package graft

import org.apache.spark.sql.functions._

import graft.functions.{Portable, Similarity}
import graft.functions.expressions.{CosineSimilarity, MarkerHits, MinHash64,
  MinHashAgg, RollingFingerprint, ShingleHashPairs, SimHash64, SimHashAgg}

/** The native Catalyst expressions must be drop-in replacements for their
  * higher-order-function formulations: bit-identical values (the DuckDB
  * oracle depends on it) and codegen-friendly plans.
  */
class CustomExpressionsSpec extends SparkTestBase {

  test("CosineSimilarity == zip_with/aggregate fold, bit for bit, on real embeddings") {
    val emb = Tables.embeddings(spark, sf0001).select(col("vec_id"), col("embedding"))
    val pairs = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .limit(5000)
      .select(
        CosineSimilarity(col("a.embedding"), col("b.embedding")).as("native"),
        (Similarity.dot(col("a.embedding"), col("b.embedding"))
          / (Similarity.norm(col("a.embedding")) * Similarity.norm(col("b.embedding")))).as("hof"))
    val diff = pairs.filter(col("native") =!= col("hof")).count()
    assert(diff == 0, s"$diff pairs differ between native expression and HOF fold")
  }

  test("CosineSimilarity stays inside WholeStageCodegen") {
    val emb = Tables.embeddings(spark, sf0001)
    val df = emb.as("a").join(broadcast(emb.as("b")), col("a.vec_id") =!= col("b.vec_id"))
      .select(CosineSimilarity(col("a.embedding"), col("b.embedding")).as("sim"))
    df.collect() // AQE finalizes (and codegen-compiles) only on execution
    val plan = df.queryExecution.executedPlan.toString
    // '*(n)' is the WholeStageCodegen marker in the tree rendering; the
    // projection computing cosinesimilarity must carry it
    assert(plan.linesIterator.exists(l =>
      l.contains("cosinesimilarity") && l.trim.matches("""^\+?-?\s*\*\(\d+\) Project.*""")),
      s"cosinesimilarity not inside a codegen stage:\n$plan")
  }

  test("KmeansPackedMin == unrolled least() literal tree, and ties go to the smaller cluster") {
    import graft.functions.expressions.KmeansPackedMin
    val e = Tables.embeddings(spark, sf0001)
      .select(expr("transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT))").as("e"))
    val cents = Array.tabulate(8, 64)((c, j) =>
      math.round(math.sin(c * 1.3 + j * 0.21) * 400.0))
    val unrolled = cents.zipWithIndex.map { case (c, i) =>
      (1 to 64).map { j =>
        val d = element_at(col("e"), j) - lit(c(j - 1)); d * d
      }.reduce(_ + _) * lit(16L) + lit(i.toLong)
    }.reduce(least(_, _))
    val native = KmeansPackedMin(col("e"),
      typedLit(cents.map(_.toSeq).toSeq))
    val diff = e.select(unrolled.as("u"), native.as("n"))
      .filter(col("u") =!= col("n")).count()
    assert(diff == 0, s"$diff rows differ between native and unrolled assignment")
    // duplicated centroid => identical distances => the packed word must
    // pick the SMALLER cluster id
    val dup = Array(cents(3), cents(3))
    val picked = e.limit(100).select(
      (KmeansPackedMin(col("e"), typedLit(dup.map(_.toSeq).toSeq)) % 16L).as("c"))
      .collect().map(_.getLong(0))
    assert(picked.forall(_ == 0L), "tie did not go to the smaller cluster id")
  }

  test("KmeansPackedMin rejects >16 centroids (pack-factor bound) in codegen and interpreted eval") {
    import graft.functions.expressions.KmeansPackedMin
    val e = Tables.embeddings(spark, sf0001).limit(4)
      .select(expr("transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT))").as("e"))
    val over = Array.tabulate(17, 64)((c, j) => (c + j).toLong)
    val atCap = over.take(16)
    // 16 centroids (the cap) still work on both paths
    e.select(KmeansPackedMin(col("e"), typedLit(atCap.map(_.toSeq).toSeq)).as("p")).collect()
    // 17 fail loudly — cluster id 16 would alias dist+1's cluster 0
    val exCodegen = intercept[Exception] {
      e.select(KmeansPackedMin(col("e"), typedLit(over.map(_.toSeq).toSeq)).as("p")).collect()
    }
    assert(exCodegen.getMessage.contains("at most 16 centroids") ||
      Option(exCodegen.getCause).exists(_.getMessage.contains("at most 16 centroids")),
      s"unexpected failure: $exCodegen")
    val exEval = intercept[IllegalArgumentException] {
      KmeansPackedMin(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          Array.fill(64)(1L), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          over.map(_.toSeq).toSeq,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))))
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    }
    assert(exEval.getMessage.contains("at most 16 centroids"))
  }

  test("SimHashAgg == 64-way explode formulation") {
    val sh = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        explode(array_distinct(Portable.shingles3(Portable.tokens(col("text"))))).as("s"))
      .withColumn("h1", Portable.h32(col("s")))
      .withColumn("h2", Portable.h32b(col("s")))
      .cache()

    val native = sh.groupBy("doc_id")
      .agg(SimHashAgg(col("h1"), col("h2")).as("x"))
      .select(col("doc_id"), col("x.simhash_hi"), col("x.simhash_lo"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    val exploded = sh
      .select(col("doc_id"), col("h1"), col("h2"), explode(sequence(lit(0), lit(31))).as("j"))
      .groupBy("doc_id", "j")
      .agg(
        sum(expr("CASE WHEN (h1 div CAST(pow(2, j) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END")).as("v1"),
        sum(expr("CASE WHEN (h2 div CAST(pow(2, j) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END")).as("v2"))
      .groupBy("doc_id")
      .agg(
        sum(expr("CASE WHEN v2 > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END")).as("hi"),
        sum(expr("CASE WHEN v1 > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END")).as("lo"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    sh.unpersist()
    assert(native == exploded, {
      val bad = exploded.collectFirst { case (k, v) if native.get(k) != Some(v) => (k, v, native.get(k)) }
      s"simhash drift, e.g. $bad"
    })
  }

  test("WordNgrams == interpreted transform/slice formulation at widths 1, 8, 64") {
    import graft.functions.expressions.WordNgrams
    val d = Tables.documents(spark, sf0001)
      .select(col("doc_id"), Portable.tokens(col("text")).as("toks"))
    for (n <- Seq(1, 8, 64)) {
      // HOF reference: m-n+1 slices, whole-text degenerate under n
      val hof = expr(
        s"""CASE WHEN size(toks) >= $n THEN
           |  transform(sequence(0, size(toks) - $n),
           |    i -> concat_ws(' ', slice(toks, i + 1, $n)))
           |ELSE array(concat_ws(' ', toks)) END""".stripMargin)
      val diff = d.select(WordNgrams(col("toks"), n).as("a"), hof.as("b"))
        .filter(col("a") =!= col("b")).count()
      assert(diff == 0, s"WordNgrams($n) drifts from the HOF form on $diff docs")
    }
  }

  test("RollingFingerprint == interpreted HOF fold on real documents") {
    val d = Tables.documents(spark, sf0001)
      .select(col("doc_id"), Portable.tokens(col("text")).as("toks"))
    val diff = d.select(
        RollingFingerprint(col("toks")).as("native"),
        Portable.rollingFingerprintHof(col("toks")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0, s"$diff fingerprints differ between native and HOF fold")
  }

  test("SimHash64 per-row expression == SimHashAgg explode+groupBy pipeline") {
    val base = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        array_distinct(Portable.shingles3(Portable.tokens(col("text")))).as("shingles"))
      .cache()
    val native = base
      .select(col("doc_id"), SimHash64(col("shingles")).as("x"))
      .select(col("doc_id"), col("x.simhash_hi"), col("x.simhash_lo"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val agg = base
      .select(col("doc_id"), explode(col("shingles")).as("s"))
      .withColumn("h1", Portable.h32(col("s")))
      .withColumn("h2", Portable.h32b(col("s")))
      .groupBy("doc_id").agg(SimHashAgg(col("h1"), col("h2")).as("x"))
      .select(col("doc_id"), col("x.simhash_hi"), col("x.simhash_lo"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    base.unpersist()
    assert(native == agg)
  }

  test("MinHash64 per-row expression == MinHashAgg explode+groupBy pipeline") {
    val base = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        array_distinct(Portable.shingles3(Portable.tokens(col("text")))).as("shingles"))
      .cache()
    val native = base
      .select(col("doc_id"), MinHash64(col("shingles")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val agg = base
      .select(col("doc_id"), explode(col("shingles")).as("s"))
      .withColumn("h", Portable.h32(col("s")))
      .groupBy("doc_id").agg(MinHashAgg(col("h")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    base.unpersist()
    assert(native == agg)
  }

  test("ShingleHashPairs == (h32, h32b) column pair") {
    val d = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        array_distinct(Portable.shingles3(Portable.tokens(col("text")))).as("shingles"))
    val fromExpr = d
      .select(col("doc_id"), explode(ShingleHashPairs(col("shingles"))).as("hp"))
      .select(col("doc_id"), col("hp.h1"), col("hp.h2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fromCols = d
      .select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), Portable.h32(col("s")), Portable.h32b(col("s")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromExpr == fromCols)
  }

  test("MarkerHits == interpreted filter/array_contains count") {
    val words = graft.functions.TextAnalysis.langMarkers.head._2
    val d = Tables.documents(spark, sf0001)
      .select(Portable.tokens(col("text")).as("toks"))
    val diff = d.select(
        MarkerHits(col("toks"), words).as("native"),
        size(filter(col("toks"),
          t => array_contains(array(words.map(lit): _*), t))).cast("long").as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0)
  }

  test("native type checks reject wrong input types") {
    val e = intercept[Exception] {
      Tables.embeddings(spark, sf0001)
        .select(RollingFingerprint(col("embedding"))).collect()
    }
    assert(e.getMessage.contains("array<string>")
      || e.getMessage.toLowerCase.contains("data type mismatch"), e.getMessage)
  }

  test("GraftExtensions injects the full SQL function surface into a new session") {
    import org.apache.spark.sql.SparkSession
    val prev = spark
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    // same SparkContext, new session state with the extension applied —
    // do NOT stop it (that would stop the shared context)
    val s2 = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions).getOrCreate()
    try {
      assert(s2 ne prev)
      Tables.documents(s2, sf0001).limit(50).createOrReplaceTempView("docs_ext")
      val r = s2.sql(
        """SELECT doc_id,
          |  simhash64(word_shingles(split(lower(text), '\s+'))).simhash_lo AS lo,
          |  minhash64(word_shingles(split(lower(text), '\s+')))[0] AS m0,
          |  rolling_fingerprint(split(lower(text), '\s+')) AS fp,
          |  size(shingle_hash_pairs(word_shingles(split(lower(text), '\s+')))) AS nh
          |FROM docs_ext""".stripMargin).collect()
      assert(r.length == 50 && r.forall(row => !row.anyNull))
      // aggregate registration: SpaceSaving top-k through SQL
      val agg = s2.sql(
        """SELECT inline(topk_sketch(tok, 64, 5)) FROM (
          |  SELECT explode(split(lower(text), '\s+')) AS tok FROM docs_ext)""".stripMargin)
        .collect()
      assert(agg.length == 5 && agg.forall(row => row.getLong(1) <= row.getLong(2)))
      // wrong-typed call is an analysis error, not silent garbage
      val err = intercept[Exception](
        s2.sql("SELECT rolling_fingerprint(doc_id) FROM docs_ext").collect())
      assert(err.getMessage.toLowerCase.contains("array<string>")
        || err.getMessage.toLowerCase.contains("data type mismatch"), err.getMessage)
    } finally {
      SparkSession.setActiveSession(prev); SparkSession.setDefaultSession(prev)
    }
  }

  test("cosine_sim is SQL-callable once registered (GraftExtensions function builder)") {
    // the shared test session predates withExtensions, so register through
    // the same builder the extension injects
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim",
      exprs => graft.functions.expressions.CosineSimilarity(exprs.head, exprs(1)),
      "scala_udf")
    Tables.embeddings(spark, sf0001).createOrReplaceTempView("emb_sql")
    val n = spark.sql(
      """SELECT a.vec_id, cosine_sim(a.embedding, b.embedding) AS sim
        |FROM emb_sql a JOIN emb_sql b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 3""".stripMargin).count()
    assert(n > 0)
  }

  // ---- r19 loop expressions (Sq8ReconDot / LitDotLong) ------------------
  // These replaced flat 64-term reduce trees whose generated methods
  // exceeded HotSpot's JIT size ceiling (the SQ8 pre-rank ran interpreted,
  // ~66 µs per 64-term dot). The contract is bit-equality with the old
  // element_at formulation, including its NULL semantics.

  private def quantFrame = Tables.embeddings(spark, sf0001)
    .select(col("vec_id"),
      expr("transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT))").as("e"))

  test("Sq8ReconDot == unrolled (off + a*w)(off + b*w) reduce tree, bit for bit") {
    import graft.functions.expressions.Sq8ReconDot
    val dim = 64
    val off = Array.tabulate(dim)(j => (j * 37L - 900L) * 255L)
    val w = Array.tabulate(dim)(j => j % 13L + 1L)
    val e = quantFrame
    val pairs = e.as("a").join(broadcast(e.as("b").limit(8)),
      col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.e").as("ae"), col("b.e").as("be"))
    val unrolled = (1 to dim).map { j =>
      (lit(off(j - 1)) + element_at(col("ae"), j) * lit(w(j - 1))) *
        (lit(off(j - 1)) + element_at(col("be"), j) * lit(w(j - 1)))
    }.reduce(_ + _)
    val diff = pairs.select(unrolled.as("u"),
      Sq8ReconDot(col("ae"), col("be"), off.toSeq, w.toSeq).as("n"))
      .filter(col("u") =!= col("n")).count()
    assert(diff == 0, s"$diff pairs differ between native loop and reduce tree")
  }

  test("Sq8ReconDot / LitDotLong NULL/error semantics match ANSI element_at") {
    import graft.functions.expressions.{LitDotLong, Sq8ReconDot}
    val dim = 4
    val off = Seq(255L, 510L, -255L, 0L)
    val w = Seq(1L, 2L, 3L, 4L)
    val rows = Seq(
      ("full", Seq[java.lang.Long](1L, 2L, 3L, 4L)),
      ("nullelem", Seq[java.lang.Long](1L, null, 3L, 4L)),
      ("nullarr", null))
    val df = spark.createDataFrame(rows).toDF("tag", "arr")
      .select(col("tag"), col("arr").cast("array<bigint>").as("arr"))
    val unrolledSq8 = (1 to dim).map { j =>
      (lit(off(j - 1)) + element_at(col("arr"), j) * lit(w(j - 1))) *
        (lit(off(j - 1)) + element_at(col("arr"), j) * lit(w(j - 1)))
    }.reduce(_ + _)
    val unrolledDot = (1 to dim).map(j =>
      element_at(col("arr"), j) * lit(w(j - 1))).reduce(_ + _)
    val got = df.select(col("tag"),
      unrolledSq8.as("us"), Sq8ReconDot(col("arr"), col("arr"), off, w).as("ns"),
      unrolledDot.as("ud"), LitDotLong(col("arr"), w).as("nd"))
      .collect().map(r => r.getString(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))).toMap
    got.foreach { case (tag, (us, ns, ud, nd)) =>
      assert(us == ns, s"$tag: Sq8ReconDot $ns != element_at form $us")
      assert(ud == nd, s"$tag: LitDotLong $nd != element_at form $ud")
    }
    assert(got("full")._2.isDefined &&
      got("nullelem")._2.isEmpty && got("nullarr")._2.isEmpty)
    // ANSI element_at THROWS on a short array; the loop expressions match
    // that loud contract (never a silent NULL for contract-breaking data)
    val short = spark.createDataFrame(Seq(("short", Seq(1L, 2L, 3L))))
      .toDF("tag", "arr")
    val exS = intercept[Exception](
      short.select(Sq8ReconDot(col("arr"), col("arr"), off, w)).collect())
    val exD = intercept[Exception](
      short.select(LitDotLong(col("arr"), w)).collect())
    Seq(exS, exD).foreach { ex =>
      val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("< dim"), s"unexpected short-array failure: $msgs")
    }
  }

  test("LitDotLong == unrolled element_at dot on the quantized corpus, and stays in codegen") {
    import graft.functions.expressions.LitDotLong
    val dim = 64
    val x = Array.tabulate(dim)(j => math.round(math.sin(j * 0.37) * 1000000.0))
    val e = quantFrame
    val unrolled = (1 to dim).map(j =>
      element_at(col("e"), j) * lit(x(j - 1))).reduce(_ + _)
    val df = e.select(unrolled.as("u"), LitDotLong(col("e"), x.toSeq).as("n"))
    val diff = df.filter(col("u") =!= col("n")).count()
    assert(diff == 0, s"$diff rows differ between native loop and reduce tree")
    // production callers (pcaFrame) materialize the quantized frame before
    // the dot; an inline transform() is a HOF and would block codegen
    val probe = e.localCheckpoint().select(LitDotLong(col("e"), x.toSeq).as("n"))
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("litdotlong") && l.trim.matches("""^:?\+?-?\s*\*\(\d+\) Project.*""")),
      s"litdotlong not inside a codegen stage:\n$plan")
  }

  test("VecSumAgg == dim independent sum(element_at·w) columns, bit for bit") {
    import graft.functions.expressions.VecSumAgg
    val dim = 64
    val e = quantFrame
      .withColumn("w", (xxhash64(col("e")) % 1000L).cast("long"))
    // old formulation: one sum column per dimension
    val perCol = e.agg(
      sum(element_at(col("e"), 1) * col("w")).as("y1"),
      (2 to dim).map(j =>
        sum(element_at(col("e"), j) * col("w")).as(s"y$j")): _*).head()
    val packed = e.agg(VecSumAgg(col("e"), col("w"), dim).as("y"))
      .head().getSeq[Long](0)
    (0 until dim).foreach { i =>
      assert(packed(i) == perCol.getLong(i),
        s"dim ${i + 1}: packed ${packed(i)} != per-column ${perCol.getLong(i)}")
    }
    // NULL rows contribute to no dimension (sum-ignores-null parity);
    // an unweighted call is the kmeans centroid form
    val s = spark
    import s.implicits._
    val withNull = Seq(
      (Some(Seq(1L, 2L)), 10L), (None, 7L), (Some(Seq(3L, 5L)), -2L))
      .toDF("e", "w")
    val got = withNull
      .agg(VecSumAgg(col("e"), col("w"), 2).as("y")).head().getSeq[Long](0)
    assert(got == Seq(1L * 10 + 3L * -2, 2L * 10 + 5L * -2))
    val unweighted = withNull
      .agg(VecSumAgg(col("e"), lit(1L), 2).as("y")).head().getSeq[Long](0)
    assert(unweighted == Seq(4L, 7L))
  }

  test("VecSumAgg misuse fails at analysis time, not in an executor") {
    import org.apache.spark.sql.AnalysisException
    import graft.functions.expressions.VecSumAgg
    val s = spark
    import s.implicits._
    val df = Seq((Seq(1, 2), Seq(1.0, 2.0), 3, 3L)).toDF("ints", "doubles", "wi", "wl")
    Seq(
      VecSumAgg(col("ints"), col("wl"), 2),
      VecSumAgg(col("doubles"), col("wl"), 2),
      VecSumAgg(array(lit(1L), lit(2L)), col("wi"), 2)).foreach { agg =>
      // no action runs: the error comes from analyzing the plan
      val ex = intercept[AnalysisException](df.agg(agg))
      assert(ex.getMessage.contains("array<bigint>, bigint"), ex.getMessage)
    }
  }
}
