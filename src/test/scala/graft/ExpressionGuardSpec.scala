package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Input-contract guards on the SQL-registered codegen expressions: they
  * are callable with arbitrary arrays from SQL, and UnsafeArrayData reads
  * past the end do NOT throw — they return garbage. The guards turn those
  * silent divergences into loud errors (narrowed-contract scaladocs on
  * CosineSim/SqDistLong/SrpBucket).
  */
class ExpressionGuardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def rootMessages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")

  test("graft_cosine throws on length mismatch instead of truncating") {
    val df = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
    val ex = intercept[Throwable] {
      df.select(call_function("graft_cosine", col("a"), col("b"))).collect()
    }
    assert(rootMessages(ex).contains("length mismatch"))
    // Equal-length inputs still compute: cos(v, v) = 1.
    val ok = Seq((Array(1.0, 2.0), Array(1.0, 2.0))).toDF("a", "b")
      .select(call_function("graft_cosine", col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(ok - 1.0) < 1e-12)
  }

  test("graft_sqdist_long throws on length mismatch instead of truncating") {
    val df = Seq((Array(1L, 2L, 3L), Array(1L))).toDF("a", "b")
    val ex = intercept[Throwable] {
      df.select(call_function("graft_sqdist_long", col("a"), col("b"))).collect()
    }
    assert(rootMessages(ex).contains("length mismatch"))
  }

  test("graft_srp_bucket rejects a sign matrix shorter than bits*dims") {
    val df = Seq((Array(1L, 2L, 3L), Array(1L, -1L))).toDF("sv", "signs")
    val ex = intercept[Throwable] {
      df.select(call_function("graft_srp_bucket", col("sv"), col("signs"), lit(8)))
        .collect()
    }
    assert(rootMessages(ex).contains("sign matrix"))
  }

  test("hyperplaneBucket rejects bits beyond the 8-row plane matrix at plan build") {
    val ex = intercept[IllegalArgumentException] {
      graft.llm.Similarity.hyperplaneBucket(col("v"), bits = 9)
    }
    assert(ex.getMessage.contains("bits"))
  }

  test("graft_ordered_pairs fails loudly past the 2^31-1 pair bound instead of Int-wrapping") {
    // k = 70000 → k(k-1)/2 ≈ 2.45e9 pairs: the Int product wraps negative,
    // which used to surface as NegativeArraySizeException from the SQL
    // registry (r12 ADVICE). The Long-domain require names the bound.
    val xs = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.tabulate(70000)(i => i.toLong: Any))
    val ex = intercept[IllegalArgumentException] {
      graft.functions.OrderedPairs.compute(xs)
    }
    assert(ex.getMessage.contains("pairs"))
  }
}
