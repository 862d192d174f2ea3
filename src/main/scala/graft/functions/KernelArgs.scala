package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The builders of the `graft_*` SQL functions ([[VectorExpressions]],
  * [[TextExpressions]] and `graft_bloom_contains` in
  * [[graft.GraftExtensions]]). A wrong argument count, a non-literal
  * where the kernel bakes a value into the node, or a literal that does
  * not fit fails analysis with a message naming the function, instead of
  * an `IndexOutOfBoundsException` or `ClassCastException` from the
  * builder. Each literal is cast (ANSI: overflow is an error) to the type
  * the kernel reads, so the natural SQL literal works: `3` where a BIGINT
  * is expected, `array(3)` for an `array<bigint>`, `2L` for an INT.
  */
private[graft] object KernelArgs {

  /** The registration of `name(sig)`, taking exactly `n` arguments. */
  def register(name: String, cls: Class[_], sig: String, n: Int)(build: Args => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), (es: Seq[Expression]) => {
      require(es.length == n, s"$name($sig) takes $n arguments, got ${es.length}")
      build(new Args(name, es))
    })

  /** The arguments of one call of `name`. */
  final class Args(name: String, es: Seq[Expression]) {
    def apply(i: Int): Expression = es(i)

    private def literal(i: Int, what: String, dt: DataType): Any = {
      val e = es(i)
      require(e.foldable, s"$name $what must be literal")
      require(Cast.canAnsiCast(e.dataType, dt),
        s"$name $what must be ${dt.simpleString}, got ${e.dataType.simpleString}")
      val v = Cast(e, dt, Some(SQLConf.get.sessionLocalTimeZone), EvalMode.ANSI).eval()
      require(v != null, s"$name $what must not be NULL")
      v
    }

    private def array(i: Int, what: String, elem: DataType): ArrayData = {
      val a = literal(i, what, ArrayType(elem)).asInstanceOf[ArrayData]
      require(!(0 until a.numElements()).exists(a.isNullAt), s"$name $what must not contain NULL")
      a
    }

    def int(i: Int, what: String): Int = literal(i, what, IntegerType).asInstanceOf[Int]

    def long(i: Int, what: String): Long = literal(i, what, LongType).asInstanceOf[Long]

    def string(i: Int, what: String): String = literal(i, what, StringType).toString

    def strings(i: Int, what: String): Seq[String] =
      array(i, what, StringType).toArray[UTF8String](StringType).toSeq.map(_.toString)

    def longs(i: Int, what: String): Seq[Long] = array(i, what, LongType).toLongArray().toSeq

    /** The affine MinHash family (h·a_j + b_j) mod p from arguments i
      * (as), i + 1 (bs) and i + 2 (p), held to 0 < p < 2^31 and
      * 0 ≤ a_j, b_j < p: the bound under which h·a_j + b_j cannot
      * overflow a long for any base hash h < p. */
    def affineFamily(i: Int): (Seq[Long], Seq[Long], Long) = {
      val (as, bs, p) = (longs(i, "as"), longs(i + 1, "bs"), long(i + 2, "prime"))
      require(p > 0 && p < (1L << 31), s"$name prime must be in (0, 2^31), got $p")
      require(as.nonEmpty && as.length == bs.length,
        s"$name needs matching non-empty coefficient arrays, got ${as.length} and ${bs.length}")
      require((as ++ bs).forall(c => c >= 0 && c < p), s"$name coefficients must be in [0, prime = $p)")
      (as, bs, p)
    }
  }
}
