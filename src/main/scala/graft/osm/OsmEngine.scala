package graft.osm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The OSM wrangling engine proper: Spark-native re-expression of
  * `/root/reference/openstreet_kolkata.py` over OSM XML.
  *
  * Reading: Spark 4's built-in `xml` source (one DataFrame per rowTag,
  * attribute columns prefixed `_`). The reference streams the whole file
  * once per audit via iterparse (:60-65); here each rowTag read is a
  * distributed FileScan and the audits share one cached parse.
  *
  * Shaping (`shape_element` :463-537) and cleaning (:217-268) are pure
  * native column expressions — higher-order array/map functions, regexes,
  * literal-map lookups — so the whole pipeline stays in whole-stage
  * codegen with zero UDFs.
  *
  * Documented divergences from reference bugs (SURVEY.md §7):
  *  - C1 slice bug ("Foo Rd." → "Foo RRoad", :225): intended semantics
  *    (replace the whole last token) implemented instead.
  *  - The reference's golden test (:539-562) pins UNCLEANED street values
  *    even though shape_element invokes clean_address — the golden
  *    predates the cleaning hookup. `shape(clean = false)` reproduces the
  *    goldens; `clean = true` is the real pipeline.
  *  - C3 fix_postcode (:291-295) is dead code (NameError) — not ported.
  */
object OsmEngine {

  // Exact regex surface of the reference (:115-117, :175, :229, :270).
  val LowerRe        = "^([a-z]|_)*$"
  val LowerColonRe   = "^([a-z]|_)*:([a-z]|_)*$"
  val ProblemRe      = """[=\+/&<>;'"\?%#$@\,\. \t\r\n]"""
  val StreetTypeRe   = """(\S+)$"""
  val HousenumRe     = """^\s*\d+/?\d*[a-zA-Z]?,?[^a-zA-Z]*"""
  val PostcodeRe     = """\d+"""

  /** street_mapping (:192-216). */
  val streetMapping: Map[String, String] = Map(
    "street" -> "Street", "st" -> "Street",
    "raod" -> "Road", "road" -> "Road", "rd" -> "Road",
    "avenue" -> "Avenue", "ave" -> "Avenue",
    "boulevard" -> "Boulevard", "blvd" -> "Boulevard",
    "drive" -> "Drive", "dr" -> "Drive",
    "circle" -> "Circle", "cir" -> "Circle",
    "court" -> "Court", "ct" -> "Court",
    "pally" -> "Pally", "place" -> "Place", "pl" -> "Place",
    "potty" -> "Potty", "square" -> "Square", "sqr" -> "Square",
    "lane" -> "Lane", "ln" -> "Lane")

  /** city_mapping (:253-259). */
  val cityMapping: Map[String, String] = Map(
    "kolkata" -> "Kolkata",
    "saltlake" -> "Salt Lake (Bidhannagar)",
    "salt lake" -> "Salt Lake (Bidhannagar)",
    "dum dum cantt" -> "Dum Dum Cantonment, Kolkata",
    "bamangachi" -> "Bamangachi")

  /** A5 expected street types (:181-183). */
  val expectedStreetTypes: Seq[String] = Seq(
    "Avenue", "Boulevard", "Connector", "Commons", "Court", "Drive",
    "Parkway", "Place", "Lane", "Road", "Row", "Sarani", "Square",
    "Street", "Trail")

  private def mapLit(m: Map[String, String]): Column =
    map(m.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)

  // ---- source --------------------------------------------------------

  // public: the PBF source builds rows against the same shapes
  val tagType: ArrayType = ArrayType(StructType(Seq(
    StructField("_k", StringType), StructField("_v", StringType))))
  val ndType: ArrayType = ArrayType(StructType(Seq(
    StructField("_ref", StringType))))

  private def attrFields(extra: StructField*): Seq[StructField] =
    Seq("_id", "_visible", "_version", "_changeset", "_timestamp",
      "_user", "_uid").map(StructField(_, StringType)) ++ extra

  val nodeSchema: StructType = StructType(attrFields(
    StructField("_lat", StringType), StructField("_lon", StringType),
    StructField("tag", tagType)))
  val waySchema: StructType = StructType(attrFields(
    StructField("tag", tagType), StructField("nd", ndType)))

  /** Transparent-archive ingest (the reference's find_file,
    * openstreet_kolkata.py:15-35, reads `.zip` and `.bz2` downloads in
    * place; README.md:35-39 makes decompression part of the documented
    * workflow):
    *
    *  - `.bz2` needs no shim — Hadoop's BZip2Codec decompresses
    *    `spark.read.format("xml")` input natively (exercised by
    *    OsmIngestSpec's committed `example.osm.bz2` fixture). Caveat:
    *    a bz2 stream decodes through ONE codec stream, and the
    *    parallel range-split path (OsmXmlSplit) requires UNCOMPRESSED
    *    input — at scale, decompress once or use the PBF source.
    *  - `.zip` is not a Hadoop codec at all, so the entry is unpacked
    *    once to a fingerprint-keyed temp file (the reference's own
    *    semantics — extract, then parse) and the XML read runs on the
    *    extracted copy. The archive must hold one `.osm` entry (or a
    *    single entry of any name) — the Mapzen metro-extract download
    *    shape the reference consumed. */
  def unpackIfArchive(path: String): String =
    if (!path.toLowerCase.endsWith(".zip")) path
    else {
      val arc = new java.io.File(path)
      require(arc.isFile, s"no such archive: $path")
      val dir = new java.io.File("/tmp/graft_osmzip_" + graft.operators.Staging
        .digestHex(s"${arc.getAbsolutePath}:${arc.length()}:${arc.lastModified()}"))
      graft.operators.Staging.buildOnce(dir.getPath) {
        dir.mkdirs()
        val zf = new java.util.zip.ZipFile(arc)
        try {
          import scala.jdk.CollectionConverters._
          val entries = zf.entries().asScala.filterNot(_.isDirectory).toSeq
          require(entries.nonEmpty, s"empty zip archive: $path")
          val entry = entries
            .find(_.getName.toLowerCase.endsWith(".osm"))
            .getOrElse {
              require(entries.length == 1,
                s"ambiguous zip (no .osm entry, ${entries.length} files): " +
                  path)
              entries.head
            }
          val out = new java.io.File(dir,
            new java.io.File(entry.getName).getName)
          val in = zf.getInputStream(entry)
          try java.nio.file.Files.copy(in, out.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          finally in.close()
        } finally zf.close()
      }
      dir.listFiles().filter(_ != graft.operators.Staging.marker(dir.getPath))
        .head.getAbsolutePath
    }

  /** One rowTag read. Explicit schema: everything stays a string, exactly
    * like the reference (only lat/lon are ever cast, :487) — and an
    * explicit schema skips the inference pass over the file.
    * Accepts `.osm`, `.osm.bz2` (Hadoop codec) and `.osm.zip`
    * (unpacked once — see [[unpackIfArchive]]). */
  def read(spark: SparkSession, path: String, rowTag: String): DataFrame = {
    val schema = if (rowTag == "node") nodeSchema else waySchema
    spark.read.format("xml")
      .option("rowTag", rowTag)
      .schema(schema)
      .load(unpackIfArchive(path))
  }

  def readNodes(spark: SparkSession, path: String): DataFrame =
    read(spark, path, "node")
  def readWays(spark: SparkSession, path: String): DataFrame =
    read(spark, path, "way")

  /** Nodes ∪ ways with a `type` discriminator and unified schema — the
    * "process only node and way" gate (:466) falls out of the read.
    *
    * DEFAULT INGEST (r15): plain local `.osm` input (including a
    * `.zip` after [[unpackIfArchive]]) routes through the
    * range-parallel [[OsmXmlSplit]] reader — row- and hash-identical
    * to the built-in XML source on the same file (OsmXmlSplitSpec pins
    * the identity; the bench records ~1.9s vs 7.3s on the 99.8 MB
    * file, because the built-in source is one task by construction
    * while the split reader scales with cores). `.bz2` keeps the
    * built-in path: a bz2 stream decodes through one codec stream
    * either way, so there is nothing to parallelize without
    * decompressing first — at scale, decompress once or use PBF.
    * [[builtinElements]] remains public as the verification twin. */
  def elements(spark: SparkSession, path: String): DataFrame = {
    val resolved = unpackIfArchive(path)
    val f = new java.io.File(resolved)
    if (resolved.toLowerCase.endsWith(".bz2") || !f.isFile)
      builtinElements(spark, path)
    else OsmXmlSplit.elements(spark, resolved)
  }

  /** The built-in `spark-xml` ingest — the pre-r15 default, kept as
    * the row-identity verification twin of the [[OsmXmlSplit]] fast
    * path (and the serving path for `.bz2`, whose codec stream is
    * serial regardless of reader). */
  def builtinElements(spark: SparkSession, path: String): DataFrame = {
    val n = readNodes(spark, path)
      .withColumn("type", lit("node"))
      .withColumn("nd", lit(null).cast(ndType))
    val w = readWays(spark, path)
      .withColumn("type", lit("way"))
      .withColumn("_lat", lit(null).cast(StringType))
      .withColumn("_lon", lit(null).cast(StringType))
    n.unionByName(w)
  }

  // ---- cleaning (C1/C2, :217-268) -----------------------------------

  /** (housenum, fixed_street) — the two-output C1 transform
    * (fix_street_name :217-237) as one struct expression: canonicalize
    * the trailing token via street_mapping (case-insensitive, trailing
    * dots stripped — intended semantics, whole token replaced, not the
    * :225 slice bug), then split a leading house number off the front. */
  def fixStreet(v: Column): Column = {
    val lastTok  = regexp_extract(v, StreetTypeRe, 1)
    val stripped = lower(regexp_replace(lastTok, """\.+$""", ""))
    val mapped   = try_element_at(mapLit(streetMapping), stripped)
    val canon = when(mapped.isNotNull && (lastTok =!= ""),
      concat(v.substr(lit(1), length(v) - length(lastTok)), mapped))
      .otherwise(v)
    val hnMatch = regexp_extract(canon, HousenumRe, 0)
    val housenum = when(hnMatch =!= "",
      ltrim(regexp_replace(regexp_replace(hnMatch, """\s+$""", ""), ",+$", "")))
    val street = when(hnMatch =!= "",
      canon.substr(length(hnMatch) + 1, length(canon))).otherwise(canon)
    struct(housenum.as("housenum"), street.as("street"))
  }

  /** fix_city_name (:261-268): first-word lowercase lookup, identity
    * fallback. (The reference's 'salt lake' key is unreachable — split on
    * first space — and stays unreachable here; same behavior.) */
  def fixCity(v: Column): Column = {
    val first = element_at(split(lower(v), " ", 2), 1)
    coalesce(try_element_at(mapLit(cityMapping), first), v)
  }

  // ---- shaping (R1, :463-537) ---------------------------------------

  /** shape_element as staged projections. `clean = true` applies C1/C2
    * and the housenumber promotion (clean_address :305-326, effective
    * semantics); `clean = false` reproduces the reference goldens.
    *
    * An inlined `Column` is copied by reference into every expression
    * that uses it: as one Project, the street value would sit ~49
    * times inside `fixStreet`'s struct and that struct inside each use
    * of the cleaned tags, ~25,000 analyzed expression nodes that every
    * load and every query over the cached documents would analyze
    * again. Each shared sub-expression is therefore bound once in its
    * own projection and read by name after that: the problem-char
    * filtered tags `_ok`, the street value `_sv`, its `fixStreet`
    * struct `_fx` and the cleaned tags `_ct`. `CollapseProject` does
    * not re-inline a non-cheap producer with more than one consumer,
    * so the stages survive optimisation; the final select drops them. */
  def shape(elems: DataFrame, clean: Boolean = true): DataFrame = {
    val key = (t: Column) => t.getField("_k")
    val ok = elems
      .filter(col("_user").isNotNull) // is_valid effective semantics (:455-461)
      // drop problem-char keys first (:503-504)
      .withColumn("_ok", filter(coalesce(col("tag"), array().cast(tagType)),
        t => !key(t).rlike(ProblemRe)))

    val (staged, tags) = if (!clean) (ok, col("_ok")) else {
      val fixed = ok
        .withColumn("_sv", get( // original addr:street value, if any (null-
          // safe on empty arrays — ANSI element_at throws out of range)
          filter(col("_ok"), t => key(t) === "addr:street"), lit(0))
          .getField("_v"))
        .withColumn("_fx", fixStreet(col("_sv")))
      val base = transform(col("_ok"), t => struct(
        key(t).as("_k"),
        when(key(t) === "addr:street", col("_fx.street"))
          .when(key(t) === "addr:city", fixCity(t.getField("_v")))
          .otherwise(t.getField("_v")).as("_v")))
      // housenumber promotion: extracted street number overrides any
      // existing addr:housenumber (last-wins in the reference's dict)
      val hn = col("_fx.housenum")
      (fixed.withColumn("_ct", when(hn.isNotNull,
        concat(
          filter(base, t => key(t) =!= "addr:housenumber"),
          array(struct(lit("addr:housenumber").as("_k"), hn.as("_v")))))
        .otherwise(base)), col("_ct"))
    }

    val isAddr = (t: Column) =>
      key(t).startsWith("addr:") &&
        !regexp_like(key(t).substr(lit(6), length(key(t))),
          lit(LowerColonRe)) // second colon ⇒ dropped (:514-515)
    val addressEntries = transform(
      filter(tags, isAddr),
      t => struct(key(t).substr(lit(6), length(key(t))).as("key"),
        t.getField("_v").as("value")))
    val residualEntries = transform(
      filter(tags, t => !key(t).startsWith("addr:")),
      t => struct(key(t).as("key"), t.getField("_v").as("value")))

    staged.select(
      col("_id").as("id"),
      col("type"),
      col("_visible").as("visible"),
      struct(
        col("_version").as("version"), col("_changeset").as("changeset"),
        col("_timestamp").as("timestamp"), col("_user").as("user"),
        col("_uid").as("uid")).as("created"),
      when(col("_lat").isNotNull,
        array(col("_lat").cast("double"), col("_lon").cast("double")))
        .as("pos"),
      when(size(addressEntries) > 0, map_from_entries(addressEntries))
        .as("address"),
      map_from_entries(residualEntries).as("tags"),
      // nd-less ways emit null (the reference omits the key), not []
      when(col("type") === "way" && size(coalesce(col("nd"), array().cast(ndType))) > 0,
        transform(col("nd"), n => n.getField("_ref"))).as("node_refs"))
  }

  /** Full pipeline: read → shape → ND-JSON sink (reshape_data :565-584).
    * Returns the shaped DataFrame (cached — every downstream query reuses
    * one parse, replacing the reference's decompress-once trick). */
  def reshapeToJson(spark: SparkSession, inPath: String, outPath: String,
                    clean: Boolean = true): DataFrame = {
    val shaped = shape(elements(spark, inPath), clean).cache()
    shaped.write.mode("overwrite").json(outPath)
    shaped
  }

  // ---- audits (§2b) over raw XML ------------------------------------

  /** A1 count_tags (:87-95): census of ALL element names in one pass.
    * rowTag reads see one element type each, so this runs as a text scan
    * + regex — valid for line-oriented OSM dumps (planet files are). */
  def auditTags(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(regexp_extract(col("value"), """<([a-zA-Z_][\w:-]*)""", 1).as("tag"))
      .filter(col("tag") =!= "")
      .groupBy(col("tag")).agg(count(lit(1)).as("n"))

  private def allTagEntries(elems: DataFrame): DataFrame =
    elems.select(col("type"), col("_id"),
      explode(coalesce(col("tag"), array().cast(tagType))).as("t"))
      .select(col("type"), col("_id"),
        col("t").getField("_k").as("k"), col("t").getField("_v").as("v"))

  /** A2 key_type census (:114-137): priority regex buckets. */
  def auditKeys(elems: DataFrame): DataFrame = {
    val bucket =
      when(col("k").rlike(ProblemRe), "problemchars")
        .when(col("k").rlike(LowerColonRe), "lower_colon")
        .when(col("k").rlike(LowerRe), "lower")
        .otherwise("other")
    allTagEntries(elems).select(bucket.as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
  }

  /** A4 audit_users (:149-166): contributions per user, null bucket kept. */
  def auditUsers(elems: DataFrame): DataFrame =
    elems.groupBy(col("_user").as("user")).agg(count(lit(1)).as("n"))

  /** distinct-user count with the reference's None-bucket semantics. */
  def distinctUsers(elems: DataFrame): Long =
    elems.select(col("_user")).distinct().count()

  /** A5 audit_street_type (:180-190): trailing token, whitelist
    * anti-filter, set accumulation. */
  def auditStreetTypes(elems: DataFrame): DataFrame =
    allTagEntries(elems).filter(col("k") === "addr:street")
      .select(
        coalesce(nullif(regexp_extract(col("v"), StreetTypeRe, 1), lit("")),
          lit("UNKNOWN")).as("street_type"),
        col("v"))
      .filter(!col("street_type").isin(expectedStreetTypes: _*))
      .groupBy(col("street_type"))
      .agg(sort_array(collect_set(col("v"))).as("names"))

  /** A7 city-name set (:250-251). */
  def auditCityNames(elems: DataFrame): DataFrame =
    allTagEntries(elems).filter(col("k") === "addr:city")
      .select(col("v").as("city")).distinct()

  /** A10 postcode audit (:270-289): first digit-run, key+length buckets,
    * 6-digit validity. */
  def auditPostcodes(elems: DataFrame): DataFrame = {
    val e = allTagEntries(elems)
      .filter(col("k").startsWith("addr:post") && col("k").endsWith("code"))
    val pcode = regexp_extract(col("v"), PostcodeRe, 0)
    e.select(col("k"), col("v"), pcode.as("pcode"))
      .select(
        concat(col("k"), when(col("pcode") === "", lit("0"))
          .otherwise(length(col("pcode")).cast("string"))).as("bucket"),
        when(col("pcode") === "", col("v")).otherwise(col("pcode")).as("pc"),
        (length(col("pcode")) === 6).as("is_valid"))
      .groupBy(col("bucket"))
      .agg(sort_array(collect_set(col("pc"))).as("codes"),
        max(col("is_valid")).as("has_valid"))
  }

  // ---- queries (§2e) over the shaped view ---------------------------

  /** Q1 unique users (:601) — nested-field distinct. */
  def q1UniqueUsers(shaped: DataFrame): DataFrame =
    shaped.select(col("created.user")).distinct()
      .agg(count(lit(1)).as("distinct_users"))

  /** Q2 node/way counts (:605-606). */
  def q2TypeCounts(shaped: DataFrame): DataFrame =
    shaped.groupBy(col("type")).agg(count(lit(1)).as("n"))

  /** Q3 amenity battery (:610-626) as one conditional aggregation. */
  def q3Amenities(shaped: DataFrame): DataFrame = {
    val amenity = try_element_at(col("tags"), lit("amenity"))
    val kinds = Seq("cafe", "restaurant", "hospital", "school",
      "college", "university")
    shaped.agg(
      sum(when(try_element_at(col("tags"), lit("shop")).isNotNull, 1).otherwise(0))
        .as("n_shop"),
      kinds.map(k =>
        sum(when(amenity === k, 1).otherwise(0)).as(s"n_$k")): _*)
  }

  /** Q4 top-10 businesses (:629-639): nodes with a shop tag. */
  def q4TopShops(shaped: DataFrame, k: Int = 10): DataFrame =
    shaped.filter(col("type") === "node" &&
        try_element_at(col("tags"), lit("shop")).isNotNull)
      .groupBy(try_element_at(col("tags"), lit("shop")).as("shop"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("shop").asc)
      .limit(k)

  /** Q5 top-10 highway types (:642-652): ways with a highway tag. */
  def q5TopHighways(shaped: DataFrame, k: Int = 10): DataFrame =
    shaped.filter(col("type") === "way" &&
        try_element_at(col("tags"), lit("highway")).isNotNull)
      .groupBy(try_element_at(col("tags"), lit("highway")).as("highway"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("highway").asc)
      .limit(k)

  /** S6 systematic 1-in-10 sample (:54-77) — stable-key systematic
    * sampling (stream position is not stable under distributed scan). */
  def sample(elems: DataFrame, n: Int = 10): DataFrame =
    elems.filter(pmod(col("_id").cast("long"), lit(n)) === 0)

  /** Way→node resolution: the join the reference stores the keys for
    * (node_refs, :523-526) but never executes — SURVEY §2f names it the
    * natural relational extension of the data model. Each way's refs
    * explode to (way_id, ref) pairs and equi-join the node set on id;
    * output is per-way resolution stats + the centroid of its resolved
    * nodes. Geometry sums run per way over its own bounded ref list
    * (collected positions, left-to-right fold), so the aggregation is a
    * plain hash-agg on way_id — at planet scale (~109 GB PBF) this is a
    * shuffle of (way_id, lat, lon) triples, the canonical OSM
    * way-assembly job. */
  def wayNodeJoin(shaped: DataFrame): DataFrame = {
    val ways = shaped.filter(col("type") === "way" && col("node_refs").isNotNull)
      .select(col("id").as("way_id"), explode(col("node_refs")).as("ref"))
    val nodes = shaped.filter(col("type") === "node" && col("pos").isNotNull)
      .select(col("id").as("ref"),
        col("pos").getItem(0).as("lat"), col("pos").getItem(1).as("lon"))
    ways.join(nodes, Seq("ref"), "left_outer")
      .groupBy(col("way_id"))
      .agg(count(lit(1)).as("n_refs"),
        count(col("lat")).as("n_resolved"),
        round(avg(col("lat")), 6).as("centroid_lat"),
        round(avg(col("lon")), 6).as("centroid_lon"))
  }

  /** R5: `<relation>` member resolution — the element the reference
    * DROPS at the parse (openstreet_kolkata.py:466 iterates only
    * node/way) but whose assembly is the standard OSM multipolygon /
    * route primitive; [[graft.operators.Audits.r5RelationMembers]] is
    * the driver-oracled synthetic twin of this operator. Input is a
    * relations frame in [[graft.osm.pbf.PbfSource.relationSchema]]
    * (the PBF path parses relations natively) plus the shaped
    * node/way frame; each relation's member list explodes to
    * (type, ref, role) and resolves TYPE-SCOPED against the shaped
    * elements — a way ref only matches a way, a node ref only a node,
    * and a relation-type member can only resolve against the relation
    * frame itself (super-relations). Unresolved members are counted,
    * never dropped — the partial-extract posture of [[wayNodeJoin]].
    *
    * Scale shape: member explode is narrow; resolution is one hash
    * equi-join on (type, id) — at planet scale ~10 M relations ×
    * ~10 members against the element id set, the same shuffle class
    * as way assembly; the rollup is a map-side-combined hash agg on
    * rel_id. Roles are emitted as a sorted comma-joined string (the
    * deterministic set encoding the audit surface already uses). */
  def relationMembers(relations: DataFrame, shaped: DataFrame): DataFrame = {
    val members = relations
      .select(col("_id").as("rel_id"), explode(col("member")).as("m"))
      .select(col("rel_id"), col("m._type").as("mtype"),
        col("m._ref").as("ref"), col("m._role").as("role"))
    val targets = shaped
      .select(col("type").as("mtype"), col("id").as("ref"))
      .union(relations.select(lit("relation").as("mtype"),
        col("_id").as("ref")))
      .distinct()
      .withColumn("hit", lit(1))
    members.join(targets, Seq("mtype", "ref"), "left_outer")
      .groupBy(col("rel_id"))
      .agg(count(lit(1)).as("n_members"),
        count(col("hit")).as("n_resolved"),
        sum(when(col("mtype") === "way", 1L).otherwise(0L))
          .as("n_way_members"),
        sum(when(col("mtype") === "node", 1L).otherwise(0L))
          .as("n_node_members"),
        sum(when(col("mtype") === "relation", 1L).otherwise(0L))
          .as("n_rel_members"),
        array_join(array_sort(collect_list(col("role"))), ",").as("roles"))
  }
}
