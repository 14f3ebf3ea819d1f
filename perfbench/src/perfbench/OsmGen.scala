package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.util.SplittableRandom

import scala.collection.mutable

import graft.osm.pbf.PbfWriter
import graft.osm.pbf.PbfWriter.{PbfNode, PbfWay}

/** Seeded OSM extract generator. Writes the same extract as XML (one
  * element or child per line, the layout OSM dumps use) and as PBF, and
  * counts, as it writes, the raw facts the checks derive expected
  * answers from. The facts are plain tallies of what was written; the
  * checker turns them into audit and query answers with its own code.
  *
  * The traffic mix follows the reference's Kolkata extract as BASELINE.md
  * reports it (506,727 nodes, 59,642 ways, 227 users): ways carry about
  * 8.5 refs, most nodes are untagged way vertices, 62 % of ways carry a
  * highway tag, and highway, shop and amenity values are weighted by the
  * reference's Q5, Q4 and Q3 counts. Where the reference's rate is too
  * low for a scaled-down extract to give the checks anything to check,
  * the rate is raised to a floor, named below.
  *
  * Rules (all draws come from one `SplittableRandom(seed)`):
  *  - users: 227 names; element k < 227 takes user k, so every user
  *    appears; the rest draw a user uniformly;
  *  - node tags, each drawn independently: shop 1 %, amenity 2 %,
  *    address 2 % (street, city, postcode 60 %, housenumber 30 %),
  *    name 1 %, one odd-key tag 1 %; about 93 % of nodes stay untagged;
  *  - way refs: 2–15 existing node ids (8.5 on average), except 1 way
  *    in 50 with none; way tags: highway 62 %, amenity 1 %, name 30 %.
  */
object OsmGen {

  val Users = 227
  // BASELINE.md Q4 (top-10 shops, nodes only), then a tail of three
  // values below the 10th count, so the top-10 cut has something to cut
  val Shops: Seq[(String, Int)] = Seq("supermarket" -> 15,
    "convenience" -> 6, "hairdresser" -> 5, "car" -> 3, "bakery" -> 3,
    "electronics" -> 3, "books" -> 3, "alcohol" -> 3, "clothes" -> 3,
    "shoes" -> 3, "mobile_phone" -> 1, "jewelry" -> 1, "tailor" -> 1)
  // BASELINE.md Q3 counts, plus two kinds Q3 does not count, so its
  // filter has something to leave out
  val Amenities: Seq[(String, Int)] = Seq("school" -> 135,
    "hospital" -> 75, "college" -> 65, "restaurant" -> 38,
    "university" -> 25, "cafe" -> 9, "place_of_worship" -> 40,
    "bank" -> 40)
  // BASELINE.md Q5 (top-10 highway types, ways only), then a tail whose
  // weights fill the ways the top-10 leaves (53 of 36,978)
  val Highways: Seq[(String, Int)] = Seq("service" -> 17201,
    "residential" -> 14781, "tertiary" -> 2257, "unclassified" -> 680,
    "secondary" -> 626, "primary" -> 519, "footway" -> 261,
    "trunk" -> 248, "track" -> 238, "path" -> 114,
    "living_street" -> 25, "pedestrian" -> 15, "steps" -> 13)
  // share of nodes with a shop (reference: about 50 of 506,727) and with
  // an amenity (about 350): raised to floors of 1 % and 2 % so a
  // 1/80-scale extract has 60-odd shops across more than ten values and
  // every Q3 kind a few times
  val ShopPct = 1.0
  val AmenityPct = 2.0
  // share of ways with a highway tag: the Q5 counts sum to 36,925 of
  // 59,642 ways
  val HighwayPct = 62.0
  val StreetNames: Seq[String] = Seq("Camac", "Park", "Elgin", "Lenin",
    "Rash Behari", "Hazra", "Gariahat", "Shakespeare", "Bidhan",
    "Chowringhee", "Lake View", "Southern")
  // canonical, abbreviated and misspelt suffixes, plus types outside
  // the expected-types list, so cleaning and A5 both have work to do
  val Suffixes: Seq[String] = Seq("Road", "Rd", "Rd.", "rd", "Raod",
    "Street", "St", "st.", "Sarani", "Avenue", "Ave", "Lane", "ln",
    "Place", "Row", "Bazar", "Sq")
  val Cities: Seq[String] = Seq("Kolkata", "kolkata", "saltlake",
    "Salt Lake", "Howrah", "Dum Dum", "bamangachi")
  // keys in every A2 bucket: lower, lower_colon, other, problemchars
  val OddKeys: Seq[String] = Seq("name:en", "Name", "fixme note",
    "source:date", "FIXME", "ref;old", "building_levels")

  private def weighted(r: SplittableRandom, ws: Seq[(String, Int)]): String = {
    var x = r.nextInt(ws.map(_._2).sum)
    ws.find { case (_, w) => x -= w; x < 0 }.get._1
  }

  private def draw(r: SplittableRandom, pct: Double): Boolean =
    r.nextDouble() * 100 < pct

  /** Tallies of what was written. */
  final class Facts {
    var nodes = 0L
    var ways = 0L
    val census = mutable.TreeMap.empty[String, Long]
    val keyCounts = mutable.TreeMap.empty[String, Long]
    val userCounts = mutable.TreeMap.empty[String, Long]
    val streets = mutable.TreeSet.empty[String]
    val cities = mutable.TreeSet.empty[String]
    val postcodes = mutable.TreeSet.empty[(String, String)]
    val nodeShops = mutable.TreeMap.empty[String, Long]
    val wayHighways = mutable.TreeMap.empty[String, Long]
    val amenities = mutable.TreeMap.empty[String, Long]
    var waysWithRefs = 0L
    var totalRefs = 0L

    def bump(m: mutable.Map[String, Long], k: String): Unit =
      m(k) = m.getOrElse(k, 0L) + 1

    /** The facts as plain maps and lists, ready to serialise. */
    def toMap: Map[String, Any] = Map(
      "nodes" -> nodes, "ways" -> ways, "census" -> census,
      "key_counts" -> keyCounts, "user_counts" -> userCounts,
      "streets" -> streets.toSeq, "cities" -> cities.toSeq,
      "postcodes" -> postcodes.toSeq.map { case (k, v) => Seq(k, v) },
      "node_shops" -> nodeShops, "way_highways" -> wayHighways,
      "amenities" -> amenities, "ways_with_refs" -> waysWithRefs,
      "total_refs" -> totalRefs)
  }

  private def nodeTags(r: SplittableRandom, f: Facts): Seq[(String, String)] = {
    val t = Seq.newBuilder[(String, String)]
    if (draw(r, ShopPct)) {
      val v = weighted(r, Shops); t += "shop" -> v
      f.bump(f.nodeShops, v)
    }
    if (draw(r, AmenityPct)) {
      val v = weighted(r, Amenities); t += "amenity" -> v
      f.bump(f.amenities, v)
    }
    if (draw(r, 1))
      t += "name" -> s"${StreetNames(r.nextInt(StreetNames.size))} ${r.nextInt(90) + 1}"
    // addresses at a floor of 2 %: the reference gives no rate, and A5,
    // A7 and A10 need a hundred or so to have every bucket filled
    if (draw(r, 2)) {
      val num = r.nextInt(4) match {
        case 0 => s"${r.nextInt(200) + 1} "
        case 1 => s"${r.nextInt(90) + 1}/${r.nextInt(9) + 1} "
        case _ => ""
      }
      val street = num + StreetNames(r.nextInt(StreetNames.size)) + " " +
        Suffixes(r.nextInt(Suffixes.size))
      t += "addr:street" -> street
      f.streets += street
      val city = Cities(r.nextInt(Cities.size))
      t += "addr:city" -> city
      f.cities += city
      if (r.nextInt(100) < 60) {
        val (k, v) = r.nextInt(10) match {
          case 0 => "addr:postcode" -> s"700 ${100 + r.nextInt(60)}"
          case 1 => "addr:postcode" -> "N/A"
          case 2 => "addr:post_code" -> s"7000${10 + r.nextInt(80)}"
          case 3 => "addr:postcode" -> s"${70000 + r.nextInt(99)}"
          case _ => "addr:postcode" -> s"${700001 + r.nextInt(160)}"
        }
        t += k -> v
        f.postcodes += (k -> v)
      }
      if (r.nextInt(100) < 30)
        t += "addr:housenumber" -> s"${r.nextInt(300) + 1}"
    }
    if (draw(r, 1))
      t += OddKeys(r.nextInt(OddKeys.size)) -> s"v${r.nextInt(10)}"
    t.result()
  }

  private def wayTags(r: SplittableRandom, f: Facts): Seq[(String, String)] = {
    val t = Seq.newBuilder[(String, String)]
    if (draw(r, HighwayPct)) {
      val v = weighted(r, Highways); t += "highway" -> v
      f.bump(f.wayHighways, v)
    }
    // amenities on ways too, as on building outlines, so Q3 counts both
    if (draw(r, 1)) {
      val v = weighted(r, Amenities); t += "amenity" -> v
      f.bump(f.amenities, v)
    }
    if (r.nextInt(100) < 30)
      t += "name" -> s"${StreetNames(r.nextInt(StreetNames.size))} ${Suffixes(r.nextInt(Suffixes.size))}"
    t.result()
  }

  private def ts(r: SplittableRandom): Long = // 2017, whole seconds
    1483228800000L + r.nextLong(365L * 86400L) * 1000L

  /** Write `<base>.osm`, `<base>.osm.pbf` and return the facts. */
  def write(xmlPath: String, pbfPath: String, nNodes: Int, nWays: Int,
            seed: Long): Facts = {
    val r = new SplittableRandom(seed)
    val f = new Facts
    def user(k: Int) = if (k < Users) k else r.nextInt(Users)
    val nodes = (0 until nNodes).map { k =>
      val u = user(k)
      PbfNode(id = k + 1L,
        latNano = 22400000000L + r.nextLong(300000000L) / 100 * 100,
        lonNano = 88200000000L + r.nextLong(300000000L) / 100 * 100,
        tags = nodeTags(r, f), version = 1 + r.nextInt(9), tsMillis = ts(r),
        changeset = 1 + r.nextInt(50000), uid = 1000 + u,
        user = s"user_$u", visible = true)
    }
    val ways = (0 until nWays).map { k =>
      val u = user(k)
      val refs = if (r.nextInt(50) == 0) Seq.empty[Long]
        else Seq.fill(2 + r.nextInt(14))(1L + r.nextInt(nNodes))
      PbfWay(id = nNodes + k + 1L, refs = refs, tags = wayTags(r, f),
        version = 1 + r.nextInt(9), tsMillis = ts(r),
        changeset = 1 + r.nextInt(50000), uid = 1000 + u,
        user = s"user_$u", visible = true)
    }

    val w = new BufferedWriter(new FileWriter(xmlPath), 1 << 20)
    def line(tag: String, s: String): Unit = {
      w.write(s); w.write('\n'); f.bump(f.census, tag)
    }
    def attrs(id: Long, version: Int, tsMillis: Long, changeset: Long,
              uid: Long, user: String): String =
      s"""id="$id" visible="true" version="$version" changeset="$changeset" """ +
        s"""timestamp="${java.time.Instant.ofEpochMilli(tsMillis)}" """ +
        s"""user="$user" uid="$uid""""
    def tags(ts: Seq[(String, String)]): Unit = ts.foreach { case (k, v) =>
      line("tag", s"""    <tag k="$k" v="$v"/>"""); f.bump(f.keyCounts, k)
    }
    def deg(nano: Long) =
      java.math.BigDecimal.valueOf(nano, 9).stripTrailingZeros().toPlainString
    try {
      w.write("<?xml version='1.0' encoding='UTF-8'?>\n")
      line("osm", """<osm version="0.6" generator="perfbench">""")
      nodes.foreach { n =>
        val open = s"""  <node ${attrs(n.id, n.version, n.tsMillis,
          n.changeset, n.uid, n.user)} lat="${deg(n.latNano)}" lon="${deg(n.lonNano)}""""
        if (n.tags.isEmpty) line("node", open + "/>")
        else { line("node", open + ">"); tags(n.tags); w.write("  </node>\n") }
        f.nodes += 1; f.bump(f.userCounts, n.user)
      }
      ways.foreach { x =>
        line("way", s"""  <way ${attrs(x.id, x.version, x.tsMillis,
          x.changeset, x.uid, x.user)}>""")
        x.refs.foreach(ref => line("nd", s"""    <nd ref="$ref"/>"""))
        tags(x.tags)
        w.write("  </way>\n")
        f.ways += 1; f.bump(f.userCounts, x.user)
        if (x.refs.nonEmpty) { f.waysWithRefs += 1; f.totalRefs += x.refs.size }
      }
      w.write("</osm>\n")
    } finally w.close()
    PbfWriter.write(pbfPath, nodes, ways)
    f
  }
}
