package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import graft.functions.Kernels._

/** The native expressions must be bit-identical to the composed-builtin
  * forms they replace (same fold order, same hash, same pmod semantics)
  * — otherwise swapping them would silently change query results.
  */
class FunctionsSpec extends SparkSpec {

  private def toks(c: org.apache.spark.sql.Column) =
    filter(split(lower(c), "\\s+"), t => length(t) > 0)

  /** Builtin-composed twin of functions.Md5Base.hash60: top 60 bits of
    * md5 = first 15 hex chars parsed base-16. */
  private def md5Hash60(t: org.apache.spark.sql.Column) =
    conv(substring(md5(t.cast("binary")), 1, 15), 16, 10).cast("long")

  /** The reference side of a kernel pin must reach execution as the
    * declarative fold, or the pin compares the kernel with itself. */
  private def assertHofKept(df: org.apache.spark.sql.DataFrame): Unit = {
    val p = df.queryExecution.optimizedPlan.toString.toLowerCase
    assert(p.contains("aggregate(zip_with"), s"HOF fold rewritten:\n$p")
  }

  test("md5_base60 == conv(substring(md5)) chain, bit for bit") {
    val d = Tables.documents(spark, sf)
    // per-token (the winnow/minhash shape) AND whole-doc (the sampling
    // coin shape); native vs composed must agree on every value
    val both = d.select(
      explode(transform(toks(col("text")),
        t => struct(md5Base60(t).as("native"),
          md5Hash60(t).as("hof")))).as("p"))
      .select(col("p.native"), col("p.hof"))
      .union(d.select(
        md5Base60(col("doc_id").cast("string")).as("native"),
        md5Hash60(col("doc_id").cast("string")).as("hof")))
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
    assert(both.filter(col("native") < 0).count() === 0) // top-60-bit range
  }

  test("cosine_sim == zip_with/aggregate fold, bit for bit") {
    val e = Tables.embeddings(spark, sf).limit(100)
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q"))
    val both = e.crossJoin(q).select(
      cosineSim(col("embedding").cast("array<double>"),
        col("q").cast("array<double>")).as("native"),
      (dot(col("embedding"), col("q")) /
        (sqrt(dot(col("embedding"), col("embedding"))) *
          sqrt(dot(col("q"), col("q"))))).as("hof"))
    assertHofKept(both)
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("l2_sq == zip_with/aggregate fold, bit for bit") {
    val e = Tables.embeddings(spark, sf).limit(100)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q"))
    val both = e.crossJoin(q).select(
      l2Sq(col("embedding").cast("array<double>"),
        col("q").cast("array<double>")).as("native"),
      aggregate(zip_with(col("embedding").cast("array<double>"),
          col("q").cast("array<double>"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x).as("hof"))
    assertHofKept(both)
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("plane_sig == per-plane HOF fold, bit for bit") {
    val e = Tables.embeddings(spark, sf).limit(100)
    val planes = graft.operators.Similarity.planeValues(16)
    val planeLits = array(planes.map(p => array(p.map(lit): _*)): _*)
    val hofBits = transform(planeLits, p =>
      when(aggregate(zip_with(col("embedding"), p,
          (x, pl) => x.cast("double") * pl),
        lit(0.0), (acc, x) => acc + x) > 0, 1).otherwise(0))
    val both = e.select(
      planeSig(col("embedding").cast("array<double>"),
        planeLits).as("native"),
      hofBits.as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("simhash60 == per-token vote fold, bit for bit") {
    val d = Tables.documents(spark, sf).limit(100)
    val votes = aggregate(
      transform(toks(col("text")), t => md5Hash60(t)),
      array_repeat(lit(0), 60),
      (acc, h) => zip_with(acc,
        transform(sequence(lit(0), lit(59)),
          i => when(call_function("shiftright", h, i)
            .bitwiseAND(1L) === 1L, 1).otherwise(-1)),
        (x, y) => x + y))
    val hofSig = aggregate(
      zip_with(votes, sequence(lit(0), lit(59)),
        (v, i) => when(v > 0, call_function("shiftleft", lit(1L), i))
          .otherwise(0L)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
    val both = d.select(
      simhash60(toks(col("text"))).as("native"),
      hofSig.as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("minhash_sig16 == universal-hash fold, element for element") {
    import graft.functions.MinHashSig.{P, FOLD, aParam, bParam}
    val params = array((1 to 16).map(i =>
      struct(lit(aParam(i)).as("a"), lit(bParam(i)).as("b"))): _*)
    val d = Tables.documents(spark, sf).limit(100)
      .select(col("doc_id"), array_distinct(toks(col("text"))).as("sh"))
    val hofSig = aggregate(
      col("sh"), array_repeat(lit(P), 16),
      (acc, x) => {
        val h = md5Hash60(x) % lit(FOLD)
        zip_with(acc, params, (m, p) =>
          least(m, pmod(h * p.getField("a") + p.getField("b"), lit(P))))
      })
    val both = d.select(
      minhashSig16(col("sh")).as("native"),
      hofSig.cast("array<bigint>").as("hof"))
    assert(both.filter(to_json(col("native")) =!= to_json(col("hof"))).count() === 0)
  }

  test("simhash60 / minhash_sig16 survive whole-stage codegen (doGenCode path)") {
    val d = Tables.documents(spark, sf).limit(50)
      .select(col("doc_id"),
        simhash60(toks(col("text"))).as("sh"),
        minhashSig16(
          array_distinct(toks(col("text")))).as("sig"))
    val rows = d.collect()
    assert(rows.length === 50)
    val p = d.queryExecution.executedPlan.toString
    // codegen stages print as "*(n) Operator" in the final plan; a
    // CodegenFallback expression would break the span over this project
    assert(p.contains("*(") || p.contains("WholeStageCodegen"), p)
  }

  test("cosine_sim survives whole-stage codegen (doGenCode path)") {
    val e = Tables.embeddings(spark, sf).limit(10)
    val df = e.crossJoin(
        e.filter(col("vec_id") === 0).select(col("embedding").as("q")))
      .select(cosineSim(
        col("embedding").cast("array<double>"),
        col("q").cast("array<double>")).as("c"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen stages print as "*(n) Operator" in the final plan
    assert(p.contains("*(") || p.contains("WholeStageCodegen"), p)
    // self-similarity sanity on the full corpus
    val self = Tables.embeddings(spark, sf).select(
      cosineSim(col("embedding").cast("array<double>"),
        col("embedding").cast("array<double>")).as("c"))
    assert(self.filter(abs(col("c") - 1.0) > 1e-12).count() === 0)
  }

  test("mg_topk: capacity above cardinality recovers exact counts") {
    import spark.implicits._
    val data = Seq.tabulate(3000)(i => s"k${i % 17}").toDF("s")
      .repartition(7) // force partial sketches + merges
    val m = data.agg(mgTopk(col("s"), 64)).collect()
      .head.getAs[Map[String, Long]](0)
    val exact = data.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m === exact)
  }

  test("mg_topk: heavy hitter survives adversarial tail under eviction") {
    import spark.implicits._
    // one item at 30%, a 1000-distinct uniform tail; capacity 10 ⇒
    // constant evictions, yet freq > n/11 guarantees survival with
    // bounded undercount — across any partitioning/merge order
    val rows = Seq.fill(3000)("hot") ++ Seq.tabulate(7000)(i => s"t${i % 1000}")
    for (parts <- Seq(1, 5, 13)) {
      val m = rows.toDF("s").repartition(parts)
        .agg(mgTopk(col("s"), 10)).collect()
        .head.getAs[Map[String, Long]](0)
      val est = m.getOrElse("hot", 0L)
      assert(est > 0L, s"heavy hitter evicted at parts=$parts")
      assert(est <= 3000L, s"overcount at parts=$parts: $est")
      assert(3000L - est <= 10000L / 11 + 1, s"bound broken at parts=$parts: $est")
    }
  }

  test("wordpiece_segment == greedy HOF struct fold, bit for bit") {
    import graft.operators.Training.{wpBi, wpTri}
    // the interpreted fold tok10 ran before its native kernel — kept
    // here verbatim as the executable spec of the greedy algorithm
    val words = Tables.documents(spark, sf)
      .select(explode(split(regexp_replace(lower(col("text")),
        "[^a-z]+", " "), " ")).as("word"))
      .filter(length(col("word")) > 0).distinct()
      .select(col("word"), length(col("word")).cast("long").as("len"))
    def sub(i: org.apache.spark.sql.Column, l: Int) =
      col("word").substr((i + 1L).cast("int"), lit(l))
    val fold = aggregate(
      sequence(lit(0L), col("len") - 1L),
      struct(lit(0L).as("np"), lit("").as("tk")),
      (acc, i) => {
        val np = acc.getField("np")
        val tk = acc.getField("tk")
        when(i < np, acc)
          .when(col("len") - i >= 3L &&
            array_contains(typedlit(wpTri), sub(i, 3)),
            struct((i + 3L).as("np"),
              concat(tk, sub(i, 3), lit(" ")).as("tk")))
          .when(col("len") - i >= 2L &&
            array_contains(typedlit(wpBi), sub(i, 2)),
            struct((i + 2L).as("np"),
              concat(tk, sub(i, 2), lit(" ")).as("tk")))
          .otherwise(struct((i + 1L).as("np"),
            concat(tk, sub(i, 1), lit(" ")).as("tk")))
      })
    val both = words.select(
      wordpieceSegment(col("word")).as("native"),
      trim(fold.getField("tk")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
    assert(both.count() > 0)
  }

  test("cdc_boundaries == HOF window-hash filter, element for element") {
    val mod = 64
    val n = length(col("text"))
    val hof =
      when(n >= 8,
        filter(sequence(lit(8), n), i =>
          pmod(md5Base60(
            col("text").substr(i - 7, lit(8))), lit(mod)) === 0))
        .otherwise(array().cast("array<int>"))
    val both = Tables.documents(spark, sf).select(
      cdcBoundaries(col("text"), mod).as("native"),
      hof.as("hof"))
    assert(both.filter(to_json(col("native")) =!= to_json(col("hof")))
      .count() === 0)
    // at mod 64 the corpus must actually contain boundaries
    assert(both.filter(size(col("native")) > 0).count() > 0)
  }

  test("frame_energies == nested transform/aggregate fold, bit for bit") {
    val flen = 64
    val d = Tables.documents(spark, sf)
      .select(col("text").as("px"),
        floor(length(col("text")).cast("double") / flen).cast("long")
          .as("nf"))
      .filter(col("nf") > 0)
    val hof = transform(sequence(lit(0L), col("nf") - 1),
      i => aggregate(
        transform(sequence(lit(0), lit(flen - 1)),
          j => abs(ascii(col("px")
            .substr((i * flen + j + 1).cast("int"), lit(1)))
            .cast("long") - 32L)),
        lit(0L), (acc, x) => acc + x))
    val both = d.select(
      frameEnergies(col("px"), flen).as("native"),
      hof.as("hof"))
    assert(both.filter(to_json(col("native")) =!= to_json(col("hof")))
      .count() === 0)
    assert(both.count() > 0)
  }

  test("pii_scan == stacked regex battery, match for match " +
    "(adversarial strings + PII-augmented corpus)") {
    import graft.operators.TextAnalysis._
    import spark.implicits._
    // every backtracking / boundary edge the hand scanners resolve:
    // URL 's' commit, email greedy-domain shrink + run-level retry,
    // IPv4 group backtrack + \b on both ends, phone \b, sequential
    // redaction interplay, non-ASCII neighbors of every class
    val adversarial = Seq(
      "visit https://ex.com/a?b=1 or http://x now",
      "httpss://x http:// http://  https://", // no valid URL tails
      "HTTP://nope http://t",
      "a@b.comhttp://x.org tail",     // URL replace changes the email match
      "a@b.co.uk j@k.l.mn x a@@b.com a@b. a@b.c",
      "%+-.a@b-c.de2f ...@... -a@b.cd- a@b.cd.e",
      "1.2.3.4 12.34.56.789 1234.5.6.7 999.999.999.9999",
      "1.2.3.4.5 a1.2.3.4 0.0.0.0- 1.2.3.45-6789 12.3.4.56",
      "call 555-1234 x555-1234 555-12345 -555-1234 555-1234-",
      "mixed bob@ex.co.uk at 10.0.0.1 dials 555-0000 via http://h.i",
      "héllo@ü.com über 1.2.3.4 😀 http://a 😀",
      "", " ", "http", "@", "1.2.3.", "555-123"
    ).toDF("text")
    val corpus = graft.operators.Fixtures
      .withPii(Tables.documents(spark, sf)).select(col("text"))
    val t = col("text")
    val p = piiScan(t)
    val both = adversarial.unionByName(corpus).select(
      p.getField("n_urls").as("ku"), piiCount(t, UrlRe).as("ru"),
      p.getField("n_emails").as("ke"), piiCount(t, EmailRe).as("re"),
      p.getField("n_ips").as("ki"), piiCount(t, Ipv4Re).as("ri"),
      p.getField("n_phones").as("kp"), piiCount(t, PhoneRe).as("rp"),
      p.getField("redacted").as("kr"), redact(t).as("rr"))
    assert(both.filter(col("ku") =!= col("ru") || col("ke") =!= col("re") ||
      col("ki") =!= col("ri") || col("kp") =!= col("rp") ||
      col("kr") =!= col("rr")).count() === 0)
    // the corpus must actually exercise every pattern
    assert(both.filter(col("ku") > 0).count() > 0)
    assert(both.filter(col("ke") > 0).count() > 0)
    assert(both.filter(col("ki") > 0).count() > 0)
    assert(both.filter(col("kp") > 0).count() > 0)
  }

  test("gopher_scan == HOF/split stat battery, value for value") {
    import spark.implicits._
    def occ(c: org.apache.spark.sql.Column, w: String) =
      (size(split(c, s" $w ")) - 1).cast("long")
    val adversarial = Seq(
      " the the a a of in to ",          // overlap + edge stopwords
      "x\ty\nz w\f v\r u",          // every \s class char
      "😀😀 ab😀cd xyz",                  // codepoint vs UTF-16 lengths
      "", " ", "the", " the", "the ", "a the a the a",
      "word " * 60                         // a passing-length doc
    ).toDF("text")
    val t = col("text")
    val g = gopherScan(t)
    val toksC = filter(split(t, "\\s+"), x => length(x) > 0)
    val both = adversarial
      .unionByName(Tables.documents(spark, sf).select(t))
      .select(
        g.getField("n_words").as("kw"), size(toksC).cast("long").as("rw"),
        g.getField("sum_len").as("kl"),
        aggregate(toksC, lit(0L), (a, x) => a + length(x)).as("rl"),
        g.getField("n_alpha").as("ka"),
        size(filter(toksC, x => x.rlike("[A-Za-z]"))).cast("long").as("ra"),
        g.getField("n_stop").as("ks"),
        (occ(t, "the") + occ(t, "a") + occ(t, "of") + occ(t, "in") +
          occ(t, "to")).as("rs"))
    assert(both.filter(col("kw") =!= col("rw") || col("kl") =!= col("rl") ||
      col("ka") =!= col("ra") || col("ks") =!= col("rs")).count() === 0)
    assert(both.filter(col("ks") > 0).count() > 0)
  }
}
