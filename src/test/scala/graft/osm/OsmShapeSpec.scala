package graft.osm

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Golden tests transcribed from the reference's inline assertions
  * (openstreet_kolkata.py:539-562, :165-166) against the reconstructed
  * example.osm fixture (FIXTURES.md §1).
  */
class OsmShapeSpec extends SparkSpec {

  private lazy val elems = OsmEngine.elements(spark, fixture("example.osm")).cache()
  private lazy val shapedRaw = OsmEngine.shape(elems, clean = false).cache()
  private lazy val shapedClean = OsmEngine.shape(elems, clean = true).cache()

  test("golden first document (:541-554)") {
    val r = shapedRaw.filter(col("id") === "261114295").collect()
    assert(r.length === 1)
    val d = r.head
    assert(d.getAs[String]("type") === "node")
    assert(d.getAs[String]("visible") === "true")
    val created = d.getAs[Row]("created")
    assert(created.getAs[String]("changeset") === "11129782")
    assert(created.getAs[String]("user") === "bbmiller")
    assert(created.getAs[String]("version") === "7")
    assert(created.getAs[String]("uid") === "451048")
    assert(created.getAs[String]("timestamp") === "2012-03-28T18:31:23Z")
    assert(d.getAs[Seq[Double]]("pos") === Seq(41.9730791, -87.6866303))
    assert(d.getAs[Any]("address") === null)
    assert(d.getAs[Map[String, String]]("tags") === Map.empty)
    assert(d.getAs[Any]("node_refs") === null)
  }

  test("golden last document: address + node_refs (:555-562)") {
    val d = shapedRaw.filter(col("id") === "209809850").collect().head
    assert(d.getAs[Map[String, String]]("address") ===
      Map("street" -> "West Lexington St.", "housenumber" -> "1412"))
    assert(d.getAs[Seq[String]]("node_refs") === Seq(
      "2199822281", "2199822390", "2199822392", "2199822369",
      "2199822370", "2199822284", "2199822281"))
  }

  test("is_valid gate drops user-less elements (:455-461)") {
    assert(shapedRaw.filter(col("id") === "2000010").count() === 0)
    // relations never enter the shape (only node/way are read)
    assert(shapedRaw.filter(col("id") === "4000001").count() === 0)
  }

  test("problem-char keys dropped, second-colon addr dropped, tiger kept (:503-520)") {
    val d = shapedRaw.filter(col("id") === "2000003").collect().head
    val tags = d.getAs[Map[String, String]]("tags")
    assert(!tags.contains("bad key"))
    assert(tags.get("tiger:county") === Some("Cook"))
    assert(d.getAs[Any]("address") === null) // addr:street:type dropped
  }

  test("cleaning canonicalizes street suffix and city (C1/C2)") {
    val d = shapedClean.filter(col("id") === "2000001").collect().head
    val addr = d.getAs[Map[String, String]]("address")
    assert(addr("street") === "College Street") // St -> Street
    assert(addr("city") === "Kolkata")          // kolkata -> Kolkata
    val w = shapedClean.filter(col("id") === "3000001").collect().head
    assert(w.getAs[Map[String, String]]("address")("street") === "Jessore Road") // raod -> Road
  }

  test("house-number promotion from street value (C4 effective semantics)") {
    val d = shapedClean.filter(col("id") === "2000002").collect().head
    val addr = d.getAs[Map[String, String]]("address")
    assert(addr("street") === "shyamsundar Pally")
    assert(addr("housenumber") === "24/j")
    assert(addr("city") === "Salt Lake (Bidhannagar)")
  }

  test("clean=true keeps existing housenumber when street has no leading number") {
    val d = shapedClean.filter(col("id") === "209809850").collect().head
    val addr = d.getAs[Map[String, String]]("address")
    assert(addr("street") === "West Lexington Street")
    assert(addr("housenumber") === "1412")
  }

  test("ND-JSON round-trip (reshape_data :565-584)") {
    val out = SparkSpec.tempDir("graft-json")
    val shaped = OsmEngine.reshapeToJson(spark, fixture("example.osm"), out)
    val back = spark.read.json(out)
    assert(back.count() === shaped.count())
    assert(back.count() === 11) // 12 node/way minus the user-less node
  }
}
