package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL surface for the codec kernels: native Catalyst expressions (not
  * Scala UDFs) registered in the FunctionRegistry, so they participate in
  * whole-stage codegen — each `doGenCode` emits a direct static call, no
  * boxing/closure indirection (SURVEY.md §7.3's deferred
  * "ENCODE(col) as Expression + FunctionRegistry entry").
  *
  *   SELECT graft_decode(graft_encode(text)) = text FROM pages
  *   SELECT graft_fingerprint(text) FROM pages
  */
object GraftFunctions {

  /** Static kernels invoked from generated code (operate on UTF8String /
    * byte arrays directly — no java.lang.String round-trip).
    */
  def encode(s: UTF8String): Array[Byte] =
    graft.codec.Pipelines.textEncode(s.getBytes)

  def decode(payload: Array[Byte]): UTF8String =
    UTF8String.fromBytes(graft.codec.Pipelines.textDecode(payload))

  def fingerprint(s: UTF8String): Long =
    graft.pipeline.TextAnalysis.fingerprintBytes(s.getBytes)

  /** FM-index backward-search count; null (the reference's Nothing, not
    * Just 0) when the pattern does not occur. Builds the per-row index —
    * the one-shot SQL form; amortized search belongs to IndexJob.
    */
  def fmCount(text: UTF8String, pattern: UTF8String): java.lang.Long =
    graft.codec.FmIndex.build(text.getBytes).count(pattern.getBytes) match {
      case Some(n) => java.lang.Long.valueOf(n.toLong)
      case None    => null
    }

  def simhash(s: UTF8String): Long = graft.pipeline.Dedup.simHash(s.toString)

  /** Decode a ColumnCodec binary-column payload (one nested `*.payload`
    * cell of the encoded-chunks table) to its value array, null slots
    * preserved — the SQL-surface read of the encoded table:
    *
    *   SELECT explode(zip_with(graft_decode_column(url.payload),
    *                           graft_decode_column(text.payload),
    *                           (u, t) -> struct(u AS url, t AS text)))
    *   FROM chunks
    */
  def decodeColumn(payload: Array[Byte]): org.apache.spark.sql.catalyst.util.ArrayData = {
    val vals = graft.codec.ColumnCodec.decodeBinaryNullable(payload)
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      vals.map(v => if (v == null) null else UTF8String.fromBytes(v)))
  }

  /** Binary-typed twin of [[decodeColumn]] for payload columns whose
    * values are NOT UTF-8 text (e.g. `html.payload`) — laundering raw
    * bytes through UTF8String would silently corrupt them.
    */
  def decodeColumnBinary(payload: Array[Byte]): org.apache.spark.sql.catalyst.util.ArrayData =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      graft.codec.ColumnCodec.decodeBinaryNullable(payload))

  /** FM-index locate: 1-based byte positions of every occurrence,
    * row-ordered as the reference returns them
    * (locateFMIndex, /root/reference/src/Data/FMIndex/Internal.hs:448-542);
    * null (the reference's Nothing) when the pattern does not occur.
    */
  def fmLocate(text: UTF8String, pattern: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val pos = graft.codec.FmIndex.build(text.getBytes).locate(pattern.getBytes)
    if (pos.isEmpty) null
    else org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(pos.map(_.toLong))
  }

  /** Deterministic sampling residue — the SQL surface of
    * [[graft.pipeline.Sampling.stratifiedSample]]'s pure row draw:
    * `(splitmix64(key + salt) & Long.MaxValue) % den`. Null for a
    * non-positive denominator (the SQL analogue of the Scala API's loud
    * require). Keep-1-in-den sampling is `WHERE graft_sample_residue(key,
    * salt, den) < num`; stratified rates come from a CASE over den.
    */
  def sampleResidue(key: Long, salt: Long, den: Long): java.lang.Long =
    if (den <= 0) null
    else java.lang.Long.valueOf((graft.pipeline.Dedup.mix(key + salt) & Long.MaxValue) % den)

  abstract class GraftUnary extends UnaryExpression with Serializable {
    protected def staticCall: String
    protected def expectedInput: DataType
    override def nullable: Boolean = child.nullable
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == expectedInput) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects $expectedInput, got ${child.dataType}")
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.sql.GraftFunctions.$staticCall($c)")
  }

  case class GraftEncode(child: Expression) extends GraftUnary {
    override def dataType: DataType = BinaryType
    override protected def expectedInput: DataType = StringType
    override protected def staticCall = "encode"
    override protected def nullSafeEval(input: Any): Any =
      encode(input.asInstanceOf[UTF8String])
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class GraftDecode(child: Expression) extends GraftUnary {
    override def dataType: DataType = StringType
    override protected def expectedInput: DataType = BinaryType
    override protected def staticCall = "decode"
    override protected def nullSafeEval(input: Any): Any =
      decode(input.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class GraftFingerprint(child: Expression) extends GraftUnary {
    override def dataType: DataType = LongType
    override protected def expectedInput: DataType = StringType
    override protected def staticCall = "fingerprint"
    override protected def nullSafeEval(input: Any): Any =
      fingerprint(input.asInstanceOf[UTF8String])
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class GraftSimhash(child: Expression) extends GraftUnary {
    override def dataType: DataType = LongType
    override protected def expectedInput: DataType = StringType
    override protected def staticCall = "simhash"
    override protected def nullSafeEval(input: Any): Any =
      simhash(input.asInstanceOf[UTF8String])
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class GraftDecodeColumn(child: Expression) extends GraftUnary {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(StringType, containsNull = true)
    override protected def expectedInput: DataType = BinaryType
    override protected def staticCall = "decodeColumn"
    override protected def nullSafeEval(input: Any): Any =
      decodeColumn(input.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class GraftDecodeColumnBinary(child: Expression) extends GraftUnary {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(BinaryType, containsNull = true)
    override protected def expectedInput: DataType = BinaryType
    override protected def staticCall = "decodeColumnBinary"
    override protected def nullSafeEval(input: Any): Any =
      decodeColumnBinary(input.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class GraftFmCount(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with Serializable {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true // no match -> null (reference: Nothing, never Just 0)
    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == StringType && right.dataType == StringType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_fm_count expects (string, string), got (${left.dataType}, ${right.dataType})")
    override protected def nullSafeEval(t: Any, p: Any): Any =
      fmCount(t.asInstanceOf[UTF8String], p.asInstanceOf[UTF8String]) // may be null
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (t, p) => {
        val tmp = ctx.freshName("fmcnt")
        s"""
           |java.lang.Long $tmp = graft.sql.GraftFunctions.fmCount($t, $p);
           |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.longValue(); }
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  case class GraftFmLocate(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with Serializable {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true // no match -> null (reference: Nothing, never Just [])
    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == StringType && right.dataType == StringType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_fm_locate expects (string, string), got (${left.dataType}, ${right.dataType})")
    override protected def nullSafeEval(t: Any, p: Any): Any =
      fmLocate(t.asInstanceOf[UTF8String], p.asInstanceOf[UTF8String]) // may be null
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (t, p) => {
        val tmp = ctx.freshName("fmloc")
        s"""
           |org.apache.spark.sql.catalyst.util.ArrayData $tmp = graft.sql.GraftFunctions.fmLocate($t, $p);
           |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  case class GraftSampleResidue(first: Expression, second: Expression, third: Expression)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression with Serializable {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true // den <= 0 -> null
    private def intish(dt: DataType) = dt == LongType || dt == IntegerType
    override def checkInputDataTypes(): TypeCheckResult =
      if (Seq(first, second, third).forall(c => intish(c.dataType)))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        "graft_sample_residue expects (bigint, bigint, bigint), got (" +
          s"${first.dataType}, ${second.dataType}, ${third.dataType})")
    override protected def nullSafeEval(k: Any, s: Any, d: Any): Any =
      sampleResidue(k.asInstanceOf[Number].longValue(),
        s.asInstanceOf[Number].longValue(), d.asInstanceOf[Number].longValue())
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (k, s, d) => {
        val tmp = ctx.freshName("sres")
        s"""
           |java.lang.Long $tmp = graft.sql.GraftFunctions.sampleResidue((long)$k, (long)$s, (long)$d);
           |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.longValue(); }
         """.stripMargin
      })
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): Expression =
      copy(first = f, second = s, third = t)
  }

  /** Every function as Spark's (name, info, builder) description: the one
    * list both [[register]] and [[GraftExtensions]] install.
    */
  private[sql] val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq[(String, Seq[Expression] => Expression)](
      "graft_encode" -> (args => GraftEncode(args.head)),
      "graft_decode" -> (args => GraftDecode(args.head)),
      "graft_fingerprint" -> (args => GraftFingerprint(args.head)),
      "graft_simhash" -> (args => GraftSimhash(args.head)),
      "graft_fm_count" -> (args => GraftFmCount(args(0), args(1))),
      "graft_fm_locate" -> (args => GraftFmLocate(args(0), args(1))),
      "graft_decode_column" -> (args => GraftDecodeColumn(args.head)),
      "graft_decode_column_binary" -> (args => GraftDecodeColumnBinary(args.head)),
      "graft_sample_residue" -> (args => GraftSampleResidue(args(0), args(1), args(2)))
    ).map { case (name, builder) =>
      (FunctionIdentifier(name), new ExpressionInfo("graft.sql.GraftFunctions", name), builder)
    }

  /** Programmatic registration (idempotent) for sessions we don't build
    * ourselves (e.g. the driver's).
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) => registry.registerFunction(id, info, builder) }
  }
}

/** spark.sql.extensions entry point for spark-submit deployments:
  * `--conf spark.sql.extensions=graft.sql.GraftExtensions`.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach(ext.injectFunction)
}
