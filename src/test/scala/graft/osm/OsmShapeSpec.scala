package graft.osm

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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

  /** Expression nodes summed over every operator of a plan. */
  private def exprNodes(p: LogicalPlan): Int =
    p.collect { case op => op.expressions.map(_.collect { case e => e }.length).sum }.sum

  test("shape binds each shared sub-expression once: its plan stays small") {
    // inlined Column values are copied by reference: as one Project,
    // shape's plan holds ~8,400 optimized expression nodes here. The input
    // is read afresh: over the cached `elems`, the cache lookup would swap
    // shape's plan for the scan of `shapedClean`/`shapedRaw`
    val fresh = OsmEngine.elements(spark, fixture("example.osm"))
    for (clean <- Seq(true, false)) {
      val n = exprNodes(OsmEngine.shape(fresh, clean).queryExecution.optimizedPlan)
      assert(n <= 2000, s"clean = $clean: $n expression nodes")
    }
    // a query over the cached documents plans against a cache scan; its
    // analyzed plan, which the cache lookup canonicalises, holds shape's
    val docs = OsmEngine.reshapeToJson(spark, fixture("example.osm"),
      SparkSpec.tempDir("graft-json"))
    try {
      val n = exprNodes(OsmEngine.q2TypeCounts(docs).queryExecution.analyzed)
      assert(n <= 2000, s"q2 over the cached documents: $n expression nodes")
    } finally docs.unpersist()
  }

  test("shape's schema, nullability included, is the document shape") {
    val str = (n: String) => StructField(n, StringType)
    val strMap = MapType(StringType, StringType, valueContainsNull = true)
    val want = StructType(Seq(
      str("id"), str("type"), str("visible"),
      StructField("created", StructType(
        Seq("version", "changeset", "timestamp", "user", "uid").map(str)),
        nullable = false),
      StructField("pos", ArrayType(DoubleType, containsNull = true)),
      StructField("address", strMap),
      StructField("tags", strMap, nullable = false),
      StructField("node_refs", ArrayType(StringType, containsNull = true))))
    assert(shapedClean.schema === want)
    assert(shapedRaw.schema === want)
  }
}
