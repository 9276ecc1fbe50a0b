package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd vector kernels for the similarity/dedup operators.
  *
  * The generic route (`zip_with` + `aggregate` higher-order functions)
  * evaluates interpreted, one lambda call per element — at 4M candidate
  * pairs × 64 dims that dominated the benchmark (≈58 s). These
  * expressions compile to tight primitive loops inside whole-stage
  * codegen (≈25× faster end-to-end on the near-dup pair query).
  *
  * Evaluation order is the same sequential left-to-right sum as both the
  * HOF formulation and DuckDB's list_cosine_similarity, so results stay
  * bit-identical to the oracle.
  */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, i, s) = (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("s"))
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ArrayDot = copy(left = newLeft, right = newRight)
}

/** Sequential-sum L2 norm of a double array. */
case class ArrayNorm(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_norm"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    while (i < x.numElements()) { val v = x.getDouble(i); s += v * v; i += 1 }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val (i, s, v) = (ctx.freshName("i"), ctx.freshName("s"), ctx.freshName("v"))
      s"""
         |double $s = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $v = $a.getDouble($i);
         |  $s += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): ArrayNorm =
    copy(child = c)
}

/** Distinct n-word shingles of a token array in one eval pass.
  *
  * Semantically identical to the higher-order formulation in
  * [[TextFns.shingles]] (concat_ws-joined n-grams, distinct by first
  * occurrence, empty array for docs shorter than n tokens), but ~4×
  * faster: the HOF route interprets an expression tree per gram (one
  * sequence + per-element concat_ws/element_at evaluations + an
  * array_distinct rescan), while this is a single tight loop into a
  * LinkedHashSet. The shingle SET feeds joins/intersections, so
  * ordering differences can never affect results — but first-occurrence
  * order is preserved anyway to match array_distinct exactly.
  * concatWs allocates fresh bytes, so the output never aliases the
  * (reused) input row buffer.
  */
case class ShinglesOf(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"shingle size must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles_of"

  override def nullSafeEval(a: Any): Any = {
    val toks = a.asInstanceOf[ArrayData]
    val m = toks.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val sep = UTF8String.fromString(" ")
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i <= m - n) {
      var j = 0
      while (j < n) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(sep, parts: _*)): Unit
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  override protected def withNewChildInternal(c: Expression): ShinglesOf =
    copy(child = c)
}

object VectorExprs {
  /** Every graft kernel by SQL name — the one table both entry points
    * install: [[register]] (imperative, per session) and
    * [[graft.GraftExtensions]] (`spark.sql.extensions`, at session
    * build). `subword_xxx(word, vocabArray, minLen, maxLen)` folds the
    * vocab literal into a hash-set reference at resolution time, so
    * the resolved plan stays constant-size at any vocab size.
    */
  val functions: Seq[(String, Seq[Expression] => Expression)] = {
    def int(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()
    Seq(
      "array_dot" -> (es => ArrayDot(es.head, es(1))),
      "array_norm" -> (es => ArrayNorm(es.head)),
      "shingles_of" -> (es => ShinglesOf(es.head, int(es(1)))),
      "simhash64_agg" -> (es => Simhash64Agg(es.head)),
      "minhash16_agg" -> (es => Minhash16Agg(es.head)),
      "bottom_k_agg" -> (es => BottomKAgg(es.head, int(es(1)))),
      "subword_count" -> (es =>
        SubwordCount(es.head, SubwordVocab.fromArgs(es))),
      "subword_split" -> (es =>
        SubwordSplit(es.head, SubwordVocab.fromArgs(es))),
      "bpe_split" -> (es => BpeSplit(es.head, BpeMerges.fromArgs(es))),
      "gram_hashes" -> (es => GramHashes(es.head, int(es(1)))),
      "winnow_fps" -> (es => WinnowFps(es.head, int(es(1)), int(es(2)))),
      "minhash_sig" -> (es => MinhashSigExpr(es.head, int(es(1)))))
  }

  /** Register [[functions]] with the session's function registry so
    * they are usable via expr("array_dot(a, b)") / call_function.
    * Check-before-register: a name already present (an earlier call,
    * or the extensions path) is left as is, so repeated calls are
    * free and log nothing.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
