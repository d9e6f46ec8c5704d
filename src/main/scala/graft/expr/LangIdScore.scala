package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass language-ID scoring kernel — the scorer behind
  * [[graft.ops.TextAnalysis.langIdNgram]]. The whole trained dictionary —
  * gram → per-language delta vector, plus the per-language floors —
  * rides as a reference object (the [[BpeEncode]]/[[RobotsDecide]]
  * pattern) and every document is scored in ONE pass: iterate code
  * points, probe the hash map per gram, accumulate L exact long sums,
  * argmin with the (nll, lang) tie-break. No explode, no join, no
  * aggregation — zero shuffle at any corpus size. TextAnalysisSpec
  * checks it against a driver replay of the NB formulation; the
  * q_langid_ngram oracle replays it in SQL.
  *
  * Grams are built over CODE POINTS (`new String(cps, i, n)`), matching
  * the code-point `substring`/`length` semantics of the seed's
  * [[graft.ops.TextAnalysis.charNgrams]] and of the SQL oracle — a UTF-16
  * `String.substring` would diverge on supplementary-plane text.
  *
  * Returns `struct<pred_lang:string, nll_micro:long, n_grams:long>`;
  * documents with fewer than `n` code points yield (null, null, 0).
  */
case class LangIdScore(child: Expression, n: Int, dict: LangIdScore.Dict)
    extends UnaryExpression {

  require(n >= 1, s"n must be >= 1: $n")

  override def prettyName: String = "langid_score"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (child.dataType == StringType) TypeCheckSuccess
    else TypeCheckFailure(s"text must be STRING, got ${child.dataType}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("pred_lang", StringType, nullable = true),
    StructField("nll_micro", LongType, nullable = true),
    StructField("n_grams", LongType, nullable = false)))

  override protected def nullSafeEval(input: Any): Any =
    LangIdScore.compute(input.asInstanceOf[UTF8String], n, dict)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dictRef = ctx.addReferenceObj("langidDict", dict,
      classOf[LangIdScore.Dict].getName)
    nullSafeCodeGen(ctx, ev, textV =>
      s"${ev.value} = graft.expr.LangIdScore.compute($textV, $n, $dictRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): LangIdScore =
    copy(child = newChild)
}

object LangIdScore {

  /** Trained dictionary: `langs` sorted ascending (so a first-strict-min
    * scan implements the (nll, lang) tie-break), per-language floors, and
    * gram → per-language delta vector (0 where the language never saw the
    * gram). Built once per job from the collected
    * [[graft.ops.TextAnalysis.langIdDicts]] frames — seed-scale, the
    * trained-artifact precedent.
    */
  final class Dict(val langs: Array[String], val floors: Array[Long],
                   val deltas: java.util.HashMap[String, Array[Long]])
      extends Serializable {
    require(langs.length == floors.length, "langs/floors length mismatch")
    require((1 until langs.length).forall(i =>
        utf8Lt(langs(i - 1), langs(i))),
      "langs must be strictly ascending in UTF8String (byte) order")
  }

  /** The lang tie-break orders by UTF8String BYTE order (Spark's string
    * ordering), which diverges from Java UTF-16 String order for code
    * points >= U+E000 vs supplementary-plane chars — so the kernel's
    * first-strict-min scan must index langs in byte order, not
    * `String.<`.
    */
  private def utf8Lt(a: String, b: String): Boolean =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0

  def buildDict(floorRows: Seq[(String, Long)],
                deltaRows: Seq[(String, String, Long)]): Dict = {
    val sorted = floorRows.sortWith((a, b) => utf8Lt(a._1, b._1))
    val langs = sorted.map(_._1).toArray
    val floors = sorted.map(_._2).toArray
    val idx = langs.zipWithIndex.toMap
    val m = new java.util.HashMap[String, Array[Long]]()
    deltaRows.foreach { case (g, lang, d) =>
      val arr = m.computeIfAbsent(g, _ => new Array[Long](langs.length))
      arr(idx(lang)) = d
    }
    new Dict(langs, floors, m)
  }

  def compute(text: UTF8String, n: Int, dict: Dict): InternalRow = {
    val s = text.toLowerCase.toString
    val cps = s.codePoints().toArray
    val nGrams = cps.length - n + 1
    if (nGrams <= 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](null, null, 0L))
    val L = dict.langs.length
    val scores = new Array[Long](L)
    var l = 0
    while (l < L) { scores(l) = dict.floors(l) * nGrams; l += 1 }
    var i = 0
    while (i < nGrams) {
      val arr = dict.deltas.get(new String(cps, i, n))
      if (arr != null) {
        var j = 0
        while (j < L) { scores(j) += arr(j); j += 1 }
      }
      i += 1
    }
    var best = 0
    l = 1
    while (l < L) { if (scores(l) < scores(best)) best = l; l += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(dict.langs(best)), scores(best),
        nGrams.toLong))
  }

  /** Column-API entry point. */
  def langid_score(text: Column, n: Int, dict: Dict): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(LangIdScore(GraftBridge.expression(text), n, dict))
  }
}
