package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BloomMightContain, BottomK, ContainsWsFreeScript,
  CountMinAgg, CountMinMergeAgg, DotProduct, GkQuantiles, GkSketchAgg,
  GkUnionAgg, HeavyHittersAgg, HeavyHittersMergeAgg, JaroWinkler, PolyHash,
  UnicodeNormalize}

/** The SQL front door: injects graft's fixed-name custom expressions into
  * every session built with it, so plain SQL can call them:
  *
  * {{{
  * val spark = SparkSession.builder()
  *   .withExtensions(new GraftExtensions)   // or
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  *   .getOrCreate()
  * spark.sql("SELECT vec_dot(a, b) FROM vectors")
  * }}}
  *
  * The Column API (`graft.functions`) needs none of this: each Column
  * function carries its expression directly, on any session. This class
  * is the only graft code that writes to a function registry. Expressions
  * built from driver-side state (a centroid matrix, plane set, cut array
  * or n-gram width) are Column-only and have no SQL name.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** (SQL name, expression class, arity, builder). Each builder gets
    * exactly `arity` arguments: a wrong-arity SQL call fails with a
    * clean message, not an IndexOutOfBoundsException in the analyzer. */
  private val functions: Seq[(String, Class[_], Int, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[DotProduct], 2, a => DotProduct(a(0), a(1))),
    ("bloom_might_contain", classOf[BloomMightContain], 2,
      a => BloomMightContain(a(0), a(1))),
    ("bottom_k", classOf[BottomK], 3, a => BottomK(a(0), a(1), a(2))),
    ("heavy_hitters", classOf[HeavyHittersAgg], 2,
      a => HeavyHittersAgg(a(0), a(1))),
    ("heavy_hitters_merge", classOf[HeavyHittersMergeAgg], 2,
      a => HeavyHittersMergeAgg(a(0), a(1))),
    ("gk_sketch_agg", classOf[GkSketchAgg], 2, a => GkSketchAgg(a(0), a(1))),
    ("gk_union_agg", classOf[GkUnionAgg], 1, a => GkUnionAgg(a(0))),
    ("gk_quantiles", classOf[GkQuantiles], 2, a => GkQuantiles(a(0), a(1))),
    ("poly_hash", classOf[PolyHash], 1, a => PolyHash(a(0))),
    ("nfc_normalize", classOf[UnicodeNormalize], 1,
      a => UnicodeNormalize(a(0), "NFC")),
    ("nfkc_normalize", classOf[UnicodeNormalize], 1,
      a => UnicodeNormalize(a(0), "NFKC")),
    ("jaro_winkler", classOf[JaroWinkler], 2, a => JaroWinkler(a(0), a(1))),
    ("count_min", classOf[CountMinAgg], 3,
      a => CountMinAgg(a(0), a(1), a(2))),
    ("count_min_merge", classOf[CountMinMergeAgg], 3,
      a => CountMinMergeAgg(a(0), a(1), a(2))),
    ("contains_wsfree_script", classOf[ContainsWsFreeScript], 1,
      a => ContainsWsFreeScript(a(0))))

  override def apply(ext: SparkSessionExtensions): Unit =
    functions.foreach { case (name, cls, arity, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        { (args: Seq[Expression]) =>
          require(args.size == arity, s"$name expects exactly $arity " +
            s"argument${if (arity == 1) "" else "s"}, got ${args.size}")
          build(args)
        }))
    }
}
