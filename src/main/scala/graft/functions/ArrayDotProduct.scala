package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two `array<double>` columns — the inner loop
  * of cosine similarity for dedup/ANN (SURVEY.md §8.2).
  *
  * Why a custom Expression (preference order (b) of the build brief):
  * the composable form `aggregate(zip_with(a, b, _*_), 0d, _+_)` is
  * correct but higher-order lambdas execute interpreted, allocating a
  * lambda frame per element; this expression is a tight codegen'd loop
  * with zero allocation inside whole-stage codegen. Left-to-right
  * summation order is IDENTICAL to the fold form, so results (and the
  * DuckDB oracle comparisons) are bit-for-bit unchanged.
  *
  * Precondition: array elements non-null (embedding vectors). Shorter of
  * the two lengths bounds the loop, matching zip_with-with-nulls only on
  * equal-length inputs — embeddings are fixed-dim.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"array_dot requires (array<double>, array<double>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "array_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

/** graft's native functions. The Column helpers build each catalyst
  * expression directly, so they work on any session, a fresh
  * `newSession()` or a streaming micro-batch included, with no setup.
  * [[register]] is only for SQL text: it adds the same functions to a
  * session's function registry (idempotent), and [[graft.Graft.init]]
  * calls it for the plain-SQL surface.
  */
object GraftFunctions {

  private val fns: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "array_dot"),
      (es: Seq[Expression]) => ArrayDotProduct(es.head, es(1))),
    (FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (es: Seq[Expression]) =>
        WordShingles(es.head, es(1).eval().asInstanceOf[Int])),
    (FunctionIdentifier("simhash_sig"),
      new ExpressionInfo(classOf[SimHashSignature].getName, "simhash_sig"),
      (es: Seq[Expression]) =>
        SimHashSignature(es.head, es(1).eval().asInstanceOf[Int])),
    (FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_sigs"),
      (es: Seq[Expression]) =>
        MinHashSignature(es.head, es(1).eval().asInstanceOf[Int])),
    (FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
      (es: Seq[Expression]) => PqEncode(es.head, es(1))),
    (FunctionIdentifier("pq_dist_tables"),
      new ExpressionInfo(classOf[PqDistTables].getName, "pq_dist_tables"),
      (es: Seq[Expression]) => PqDistTables(es.head, es(1))),
    (FunctionIdentifier("bpe_apply"),
      new ExpressionInfo(classOf[BpeApply].getName, "bpe_apply"),
      (es: Seq[Expression]) => {
        val arr = es(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val pairs = (0 until arr.numElements()).map { i =>
          val p = arr.getArray(i)
          (p.getUTF8String(0).toString, p.getUTF8String(1).toString)
        }
        BpeApply(es.head, pairs)
      }),
    (FunctionIdentifier("winnow_select"),
      new ExpressionInfo(classOf[WinnowSelect].getName, "winnow_select"),
      (es: Seq[Expression]) =>
        WinnowSelect(es.head, es(1).eval().asInstanceOf[Int],
          es(2).eval().asInstanceOf[Int])),
    (FunctionIdentifier("bow_hash_embed"),
      new ExpressionInfo(classOf[BowHashEmbed].getName, "bow_hash_embed"),
      (es: Seq[Expression]) =>
        BowHashEmbed(es.head, es(1).eval().asInstanceOf[Int])),
    (FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (es: Seq[Expression]) => NfcNormalize(es.head)),
    (FunctionIdentifier("avro_encode_ce"),
      new ExpressionInfo(
        classOf[graft.sources.AvroEncodeCustomerEvent].getName,
        "avro_encode_ce"),
      (es: Seq[Expression]) => graft.sources.AvroEncodeCustomerEvent(es.head)),
    (FunctionIdentifier("avro_decode_ce"),
      new ExpressionInfo(
        classOf[graft.sources.AvroDecodeCustomerEvent].getName,
        "avro_decode_ce"),
      (es: Seq[Expression]) => graft.sources.AvroDecodeCustomerEvent(es.head)))

  def register(spark: SparkSession): Unit =
    fns.foreach { case (id, info, builder) =>
      if (!spark.sessionState.functionRegistry.functionExists(id)) {
        spark.sessionState.functionRegistry
          .registerFunction(id, info, builder)
        ()
      }
    }

  /** `array_dot(a, b)` as a Column. */
  def arrayDot(a: Column, b: Column): Column =
    column(ArrayDotProduct(expression(a), expression(b)))

  /** `word_shingles(text, k)` as a Column. */
  def wordShingles(text: Column, k: Int): Column =
    column(WordShingles(expression(text), k))

  /** `simhash_sig(text, bits)` as a Column. */
  def simhashSig(text: Column, bits: Int): Column =
    column(SimHashSignature(expression(text), bits))

  /** `minhash_sigs(text, k)` as a Column. */
  def minhashSigs(text: Column, k: Int): Column =
    column(MinHashSignature(expression(text), k))

  /** `bow_hash_embed(text, dim)` as a Column. */
  def bowHashEmbed(text: Column, dim: Int): Column =
    column(BowHashEmbed(expression(text), dim))

  /** `pq_encode(v, codebooks)` as a Column. */
  def pqEncode(v: Column, codebooks: Column): Column =
    column(PqEncode(expression(v), expression(codebooks)))

  /** `pq_dist_tables(v, codebooks)` as a Column. */
  def pqDistTables(v: Column, codebooks: Column): Column =
    column(PqDistTables(expression(v), expression(codebooks)))

  /** `bpe_apply(text, rules)` as a Column with the merge table embedded
    * in the expression.
    */
  def bpeApply(text: Column, merges: Seq[(String, String)]): Column =
    column(BpeApply(expression(text), merges))

  /** `winnow_select(text, k, w)` as a Column. */
  def winnowSelect(text: Column, k: Int, w: Int): Column =
    column(WinnowSelect(expression(text), k, w))

  /** `nfc_normalize(text)` as a Column. */
  def nfcNormalize(text: Column): Column =
    column(NfcNormalize(expression(text)))

  /** `avro_encode_ce(struct)` as a Column. */
  def avroEncodeCe(event: Column): Column =
    column(graft.sources.AvroEncodeCustomerEvent(expression(event)))

  /** `avro_decode_ce(binary)` as a Column. */
  def avroDecodeCe(datum: Column): Column =
    column(graft.sources.AvroDecodeCustomerEvent(expression(datum)))
}
