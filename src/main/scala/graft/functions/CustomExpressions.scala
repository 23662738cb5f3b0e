package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot paths where a fused loop beats a
  * composed Column tree: document rolling-hash fingerprinting and cosine
  * similarity. Both implement `doGenCode` (real whole-stage codegen, not
  * CodegenFallback), so they stay inside the generated loop with no boxing.
  */
object CustomExpressions {

  /** Polynomial rolling hash over UTF-8 bytes: h0=7, h = (h*31 + byte) mod
    * 1e9+7. For ASCII text this equals a per-character fold, which is what
    * the DuckDB oracle replays with list_reduce. */
  case class RollingHash(child: Expression) extends UnaryExpression {

    override def dataType: DataType = LongType

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"rolling_hash expects STRING, got ${other.sql}")
    }

    protected override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      var h = 7L
      var i = 0
      while (i < bytes.length) {
        h = (h * 31L + (bytes(i) & 0xff)) % 1000000007L
        i += 1
      }
      h
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val bytes = ctx.freshName("bytes")
        val i = ctx.freshName("i")
        val h = ctx.freshName("h")
        s"""
           |byte[] $bytes = $c.getBytes();
           |long $h = 7L;
           |for (int $i = 0; $i < $bytes.length; $i++) {
           |  $h = ($h * 31L + ($bytes[$i] & 0xff)) % 1000000007L;
           |}
           |${ev.value} = $h;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): RollingHash =
      copy(child = newChild)
  }

  /** Fused cosine similarity over two double arrays: one loop accumulates
    * dot, |a|², |b|² (left-assoc, so results are bit-identical to the
    * unrolled 64-term Column/SQL formulation), then dot/(√na·√nb). */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"expects (ARRAY<DOUBLE>, ARRAY<DOUBLE>), got (${l.sql}, ${r.sql})")
      }

    protected override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xi = x.getDouble(i); val yi = y.getDouble(i)
        dot += xi * yi; na += xi * xi; nb += yi * yi
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val xi = ctx.freshName("xi")
        val yi = ctx.freshName("yi")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $xi = $a.getDouble($i);
           |  double $yi = $b.getDouble($i);
           |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
           |}
           |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): CosineSimilarity =
      copy(left = newLeft, right = newRight)
  }

  /** Fused Σ(a[i]-b[i])² — squared L2 distance, left-assoc like the
    * unrolled formulation (bit-identical results). */
  case class SquaredDistance(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"expects (ARRAY<DOUBLE>, ARRAY<DOUBLE>), got (${l.sql}, ${r.sql})")
      }

    protected override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        val d = x.getDouble(i) - y.getDouble(i)
        acc += d * d
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        val d = ctx.freshName("d")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $d = $a.getDouble($i) - $b.getDouble($i);
           |  $acc += $d * $d;
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): SquaredDistance =
      copy(left = newLeft, right = newRight)
  }

  /** Unicode canonicalization for corpus text: NFC-compose, then strip
    * diacritics (NFD → drop combining marks → NFC). Equivalent to DuckDB's
    * `strip_accents(nfc_normalize(s))` (verified on the fixture domain).
    * The hot path is the ASCII check — web corpora are overwhelmingly
    * ASCII-pure rows, which return the input UTF8String untouched (no
    * String materialization, no Normalizer); only rows with a high byte pay
    * the java.text.Normalizer cost. */
  case class CanonText(child: Expression) extends UnaryExpression {

    override def dataType: DataType = StringType

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"canon_text expects STRING, got ${other.sql}")
    }

    protected override def nullSafeEval(input: Any): Any =
      CustomExpressions.canonTextImpl(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.CustomExpressions.canonTextImpl($c);")

    override protected def withNewChildInternal(newChild: Expression): CanonText =
      copy(child = newChild)
  }

  /** Shared by interpreted eval and generated code (static forwarder). */
  def canonTextImpl(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    var i = 0
    var ascii = true
    while (ascii && i < bytes.length) { ascii = bytes(i) >= 0; i += 1 }
    if (ascii) return s
    import java.text.Normalizer
    val nfc = Normalizer.normalize(s.toString, Normalizer.Form.NFC)
    val nfd = Normalizer.normalize(nfc, Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(nfd.length)
    var j = 0
    while (j < nfd.length) {
      val cp = nfd.codePointAt(j)
      // all three combining-mark categories (Mn/Mc/Me), matching what
      // utf8proc's strip_accents drops — Mn alone diverges from the DuckDB
      // oracle on spacing-combining scripts (e.g. Devanagari matras) and
      // enclosing marks
      val ty = Character.getType(cp)
      if (ty != Character.NON_SPACING_MARK && ty != Character.COMBINING_SPACING_MARK
          && ty != Character.ENCLOSING_MARK)
        sb.appendCodePoint(cp)
      j += Character.charCount(cp)
    }
    UTF8String.fromString(Normalizer.normalize(sb.toString, Normalizer.Form.NFC))
  }

  // ---- Column API ---------------------------------------------------------

  def rolling_hash(c: Column): Column =
    GraftColumnBridge.column(RollingHash(GraftColumnBridge.expression(c)))

  def cosine_sim(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      CosineSimilarity(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def canon_text(c: Column): Column =
    GraftColumnBridge.column(CanonText(GraftColumnBridge.expression(c)))

  def squared_distance(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      SquaredDistance(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  // ---- SQL registration ---------------------------------------------------

  private def arity(name: String, n: Int)(exprs: Seq[Expression]): Unit =
    if (exprs.length != n)
      throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${exprs.length}")

  /** Make the functions callable from spark.sql on an existing session. */
  def registerTemp(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rolling_hash",
      exprs => { arity("rolling_hash", 1)(exprs); RollingHash(exprs.head) },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim",
      exprs => { arity("cosine_sim", 2)(exprs); CosineSimilarity(exprs(0), exprs(1)) },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "squared_distance",
      exprs => { arity("squared_distance", 2)(exprs); SquaredDistance(exprs(0), exprs(1)) },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "canon_text",
      exprs => { arity("canon_text", 1)(exprs); CanonText(exprs.head) },
      "built-in")
  }
}
