package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import Kernels._

/** SQL names of graft's native Catalyst expressions, for SQL callers:
  * [[graft.GraftExtensions]] injects them at session build and
  * [[graft.Graft.attach]] adds them to a built session. Each builder
  * delegates to its typed constructor in [[Kernels]], which column
  * code calls directly.
  */
object GraftFunctions {

  /** A SQL builder over a typed constructor. Aggregates go back as the
    * bare function, which the analyzer wraps itself. */
  private def sql(f: Seq[Column] => Column): Seq[Expression] => Expression =
    es => expression(f(es.map(column))) match {
      case a: AggregateExpression => a.aggregateFunction
      case x => x
    }

  /** A literal argument (size, capacity, flag), read at resolution. */
  private def lit(c: Column): Any = expression(c).eval()
  private def int(c: Column): Int = lit(c).asInstanceOf[Number].intValue
  private def long(c: Column): Long = lit(c).asInstanceOf[Number].longValue

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim"          -> sql(cs => cosineSim(cs(0), cs(1))),
    "l2_sq"               -> sql(cs => l2Sq(cs(0), cs(1))),
    "plane_sig"           -> sql(cs => planeSig(cs(0), cs(1))),
    "simhash60"           -> sql(cs => simhash60(cs.head)),
    "md5_base60"          -> sql(cs => md5Base60(cs.head)),
    "octagon_contains"    -> sql(cs => octagonContains(cs(0), cs(1), cs(2), cs(3), cs(4))),
    "minhash_sig16"       -> sql(cs => minhashSig16(cs.head)),
    "bloom_agg"           -> sql(cs => bloomAgg(cs(0), long(cs(1)), long(cs(2)))),
    "bloom_might_contain" -> sql(cs => bloomMightContain(cs(0), cs(1))),
    "mg_topk"             -> sql(cs => mgTopk(cs(0), int(cs(1)))),
    "combo3_gen"          -> sql(cs => combo3Gen(cs.head)),
    "shingle_gen"         -> sql(cs => shingleGen(cs(0), int(cs(1)))),
    "token_ngrams"        -> sql(cs =>
      if (cs.length > 2) tokenNgrams(cs(0), int(cs(1)), lit(cs(2)).asInstanceOf[Boolean])
      else tokenNgrams(cs(0), int(cs(1)))),
    "rolling_min"         -> sql(cs => rollingMin(cs(0), int(cs(1)))),
    "unigram_segment"     -> sql(cs => unigramSegment(cs.head)),
    "wordpiece_segment"   -> sql(cs => wordpieceSegment(cs.head)),
    "cdc_boundaries"      -> sql(cs => cdcBoundaries(cs(0), int(cs(1)))),
    "frame_energies"      -> sql(cs => frameEnergies(cs(0), int(cs(1)))),
    "hilbert_key"         -> sql(cs => hilbertKey(cs(0), cs(1))),
    "pii_scan"            -> sql(cs => piiScan(cs.head)),
    "gopher_scan"         -> sql(cs => gopherScan(cs.head)),
    "letter_counts"       -> sql(cs => letterCounts(cs.head)))
}
