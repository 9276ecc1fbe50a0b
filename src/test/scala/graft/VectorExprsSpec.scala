package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.functions.VectorExprs

/** Codegen'd array_dot/array_norm must be bit-identical to the
  * interpreted HOF formulation (same sequential summation order).
  */
class VectorExprsSpec extends SparkSpec {
  import spark.implicits._

  test("array_dot / array_norm match the HOF fold bit-for-bit") {
    VectorExprs.register(spark)
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(0.5, -1.0, 2.0)),
      (Array(0.1, 0.2, 0.3), Array(0.9, 0.8, 0.7)))
      .toDF("a", "b")
    val got = df.select(
      expr("array_dot(a, b)").as("fast_dot"),
      TextFns.dot(col("a"), col("b")).as("hof_dot"),
      expr("array_norm(a)").as("fast_norm"),
      TextFns.l2(col("a")).as("hof_norm"))
      .collect()
    got.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(2) == r.getDouble(3))
    }
  }

  test("shingles_of matches the HOF shingle builder on random docs") {
    VectorExprs.register(spark)
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps")
    // includes the degenerate < n-token cases (0, 1, 2 tokens) and
    // repeated grams (distinct-ness must match array_distinct)
    val docs = (0 until 60).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(12))(words(rnd.nextInt(words.size)))
        .mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val rows = df.select(
      call_function("shingles_of", TextFns.tokens(col("text")), lit(3)).as("fast"),
      TextFns.shingles(TextFns.tokens(col("text")), 3).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
  }

  test("simhash64_agg matches the declarative 64-sum formulation") {
    VectorExprs.register(spark)
    val rnd = new scala.util.Random(5)
    val words = Vector("w1", "w2", "w3", "zebra", "qq", "longword")
    val docs = (0 until 40).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(20) + 1)(words(rnd.nextInt(words.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val ex = docs.select(col("doc_id"),
        explode(array_distinct(TextFns.tokens(col("text")))).as("tok"))
      .withColumn("dig", md5(col("tok")))
    val sliced = (0 until 4).foldLeft(ex)((df, j) =>
      df.withColumn(s"h$j", TextFns.hexBits16(col("dig"), 4 * j)))
    val bitSums = for { j <- 0 until 4; k <- 0 until 16 } yield
      sum(shiftright(col(s"h$j"), k).bitwiseAND(lit(1))).as(s"b${j}_$k")
    val declarative = sliced.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), bitSums: _*)
      .select(col("doc_id") +: (0 until 4).map(j =>
        TextFns.simhashFromBitCounts(
          (0 until 16).map(k => col(s"b${j}_$k").cast("int")),
          col("n").cast("int")).as(s"band$j")): _*)
      .orderBy("doc_id").collect()
      .map(r => (0 until 4).map(j => r.getInt(j + 1)))
    val imperative = ex.groupBy(col("doc_id"))
      .agg(call_function("simhash64_agg", col("dig")).as("bands"))
      .orderBy("doc_id").collect()
      .map(_.getSeq[Int](1).toIndexedSeq)
    assert(imperative.toSeq == declarative.toSeq)
  }

  test("minhash16_agg matches the declarative min-aggregate formulation") {
    VectorExprs.register(spark)
    val rnd = new scala.util.Random(13)
    val docs = (0 until 30).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(30) + 3)(s"t${rnd.nextInt(40)}")
        .mkString(" "))
    }.toDF("doc_id", "text")
    val ex = docs.select(col("doc_id"),
        explode(TextFns.shingles(TextFns.tokens(col("text")), 3)).as("s"))
      .withColumn("dig", md5(col("s")))
      .withColumn("hv", (0 until 7).map { j =>
        TextFns.hexVal(substring(col("dig"), j + 1, 1)).cast("long") *
          lit(1L << (4 * (6 - j)))
      }.reduce(_ + _))
    val minExprs = (0 until 16).map(i =>
      min((col("hv") * TextFns.minhashA(i) + TextFns.minhashB(i)) %
        TextFns.MinhashMod).as(s"m$i"))
    val declarative = ex.groupBy(col("doc_id"))
      .agg(minExprs.head, minExprs.tail: _*)
      .orderBy("doc_id").collect()
      .map(r => (0 until 16).map(i => r.getLong(i + 1)))
    val imperative = ex.groupBy(col("doc_id"))
      .agg(call_function("minhash16_agg", col("dig")).as("sig"))
      .orderBy("doc_id").collect()
      .map(_.getSeq[Long](1).toIndexedSeq)
    assert(imperative.toSeq == declarative.toSeq)
  }

  test("gram_hashes matches the declarative md5-prefix hash per position") {
    VectorExprs.register(spark)
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "one two"),
      (3L, "solo"))
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        call_function("gram_hashes", TextFns.tokens(col("text")), lit(2))
          .as("hv"))
      .orderBy("doc_id").as[(Long, Seq[Long])].collect().toSeq
    // declarative reference: 60-bit md5 prefix of each space-joined
    // 2-gram, in position order
    val expect = df.select(col("doc_id"),
        transform(
          slice(TextFns.tokens(col("text")), lit(1),
            greatest(size(TextFns.tokens(col("text"))) - 1, lit(0))),
          (t, i) => conv(substring(md5(concat_ws(" ", t,
            element_at(TextFns.tokens(col("text")), i + 2))), 1, 15), 16, 10)
            .cast("long")).as("hv"))
      .orderBy("doc_id").as[(Long, Seq[Long])].collect().toSeq
    assert(got == expect, s"$got vs $expect")
    // short input -> empty, never null
    assert(got.find(_._1 == 3L).get._2.isEmpty)
  }

  test("null arrays propagate null") {
    VectorExprs.register(spark)
    val df = Seq((Some(Array(1.0)), Option.empty[Array[Double]]))
      .toDF("a", "b")
    val r = df.select(expr("array_dot(a, b)"), expr("array_norm(b)")).collect()
    assert(r.head.isNullAt(0) && r.head.isNullAt(1))
  }

  test("GraftExtensions injects every kernel through the extensions path") {
    // the spark.sql.extensions entry point a library user configures:
    // apply to a fresh extensions object, register into a fresh
    // session's registry (registerFunctions is the hook session build
    // invokes), and exercise each kernel through SQL
    import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry,
      SimpleFunctionRegistry}
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    // private[sql] in Scala, public in bytecode — reflect to invoke
    def inject(reg: FunctionRegistry): Unit =
      classOf[org.apache.spark.sql.SparkSessionExtensions]
        .getMethod("registerFunctions", classOf[FunctionRegistry])
        .invoke(ext, reg): Unit
    // both entry points expose the same kernels: the names the
    // extension injects into an empty registry equal the names
    // register adds to a fresh session (bottom_k_agg included — the
    // Sketches operators call it by name)
    val injected = new SimpleFunctionRegistry
    inject(injected)
    val extNames = injected.listFunction().map(_.funcName).toSet
    val fresh = spark.newSession()
    val builtin = fresh.sessionState.functionRegistry.listFunction().toSet
    VectorExprs.register(fresh)
    val regNames = (fresh.sessionState.functionRegistry.listFunction()
      .toSet -- builtin).map(_.funcName)
    assert(extNames == regNames,
      s"extension-only ${extNames -- regNames}, " +
        s"register-only ${regNames -- extNames}")
    assert(extNames("bottom_k_agg"))
    val viaExt = spark.newSession()
    inject(viaExt.sessionState.functionRegistry)
    val r = viaExt.sql(
      """SELECT array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       array_norm(array(3.0d, 4.0d)) AS n,
        |       size(shingles_of(array('a','b','c','d'), 3)) AS s,
        |       size(gram_hashes(array('a','b','c','d'), 3)) AS g""".stripMargin)
      .collect().head
    assert(r.getDouble(0) == 11.0 && r.getDouble(1) == 5.0 && r.getInt(2) == 2)
    assert(r.getInt(3) == 2)
    val agg = viaExt.sql(
      "SELECT minhash16_agg(md5(x)), simhash64_agg(md5(x)), " +
        "size(bottom_k_agg(hash(x), 4)) " +
        "FROM VALUES ('a'), ('b') AS t(x)").collect().head
    assert(agg.getSeq[Long](0).size == 16 && agg.getSeq[Int](1).size == 4)
    assert(agg.getInt(2) == 2)
  }
}
