package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.IntegerType

import graft.functions.NativeExpressions._

/** SQL registration of the native kernel functions, two ways:
  *
  *   - [[GraftExtensions]] — the standard extension-library path: set
  *     `spark.sql.extensions=graft.functions.GraftExtensions` (or
  *     `builder.withExtensions(new GraftExtensions)`) and every new session
  *     can call `shingle_hashes(text, 3)` etc. from SQL.
  *   - [[NativeFunctions.register]] — same functions injected into an
  *     ALREADY-RUNNING session's registry (extensions only apply at session
  *     construction; a library handed an existing session needs this).
  *
  * Each SQL function builds through the [[NativeExpressions]] Column
  * function of the same kernel, so SQL and the Column API produce the same
  * `StaticInvoke` / `Invoke` and share its type rules: an input Spark can
  * implicitly cast (an int where a string is expected) is cast, and one it
  * cannot cast (`shingle_hashes` on an `array<bigint>`) fails analysis with
  * `DATATYPE_MISMATCH`. Static int parameters (shingle width, signature
  * length, ...) must be foldable int literals — rejected loudly otherwise,
  * matching the JSONPath compiler's reject-don't-guess policy.
  */
object NativeFunctions {

  private def intArg(fn: String, pos: Int, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be an integer literal, got $other")
  }

  private def nArgs(fn: String, n: Int, args: Seq[Expression]): Seq[Expression] = {
    if (args.length != n) throw new IllegalArgumentException(
      s"$fn expects $n arguments, got ${args.length}")
    args
  }

  /** A builder for `name` taking `arity` arguments: `build` gets them as
    * Columns plus a reader for int-literal parameters by position.
    */
  private def fn(name: String, arity: Int)(build: (Seq[Column], Int => Int) => Column)
      : (String, Seq[Expression] => Expression) =
    name -> { (args: Seq[Expression]) =>
      val checked = nArgs(name, arity, args)
      ColumnBridge.expression(build(checked.map(ColumnBridge.column),
        pos => intArg(name, pos, checked(pos))))
    }

  /** (name, builder) for every SQL-exposed native function. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    fn("shingle_hashes", 2)((a, int) => shingleHashes(a(0), int(1))),
    fn("minhash_signature", 2)((a, int) => minhashSignature(a(0), int(1))),
    fn("simhash64", 1)((a, _) => simhash64(a(0))),
    fn("vec_dot", 2)((a, _) => vecDot(a(0), a(1))),
    fn("lsh_buckets", 3)((a, int) => lshBuckets(a(0), int(1), int(2))),
    fn("char_ngrams", 2)((a, int) => charNgrams(a(0), int(1))),
    fn("word_bigrams", 1)((a, _) => wordBigrams(a(0))),
    fn("winnowing_fingerprints", 3)((a, int) => winnowingFingerprints(a(0), int(1), int(2))),
    fn("repetition_ratios", 1)((a, _) => repetitionRatios(a(0))),
    fn("word_window_md5", 2)((a, int) => wordWindowMd5(a(0), int(1))),
    fn("shingle_md5_hashes60", 2)((a, int) => shingleMd5Hashes60(a(0), int(1))),
    fn("winnow_md5_hex", 3)((a, int) => winnowMd5Hex(a(0), int(1), int(2)))
  )

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(NativeExpressions.getClass.getName, name)

  /** Register every native function into an existing session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      ColumnBridge.registerFunction(spark, name, info(name), builder)
    }

  private[functions] def injectAll(ext: SparkSessionExtensions): Unit =
    functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name), builder))
    }
}

/** `spark.sql.extensions` entry point (see [[NativeFunctions]]). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    NativeFunctions.injectAll(ext)
}
