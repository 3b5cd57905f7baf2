package graft

import graft.operators.{Corpus, Dedup}
import graft.streaming.DocStreams

/** Stream-static decontamination: the streamed per-doc probe must
  * agree with the batch q78 pipeline (broadcast semi-join + groupBy)
  * on the same corpus — two very different plans, one semantics. */
class DocStreamsSpec extends SparkSpec {

  test("streaming decontam == batch q78 on sf0.001") {
    val d = "/root/testdata/sf0.001"
    val bench = DocStreams.benchmarkShingles(spark, d)
    assert(bench.head().getSeq[Long](0).nonEmpty)

    val batch = Corpus.q78Decontam(spark, d)
      .collect().map(_.toSeq).toSet

    val staged = java.nio.file.Files.createTempDirectory("docs_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/documents.parquet"),
      staged.resolve("documents.parquet"))

    val q = DocStreams.decontamStream(spark, staged.toString, bench)
      .writeStream.outputMode("append")
      .format("memory").queryName("decontam_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("decontam_out").collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming DSIR score == batch transform; top-25 == q267 selection; stateless") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val wArr = DocStreams.dsirWeightArray(spark, d)
    assert(wArr.head().getSeq[Long](0).size == 4096)

    val batch = DocStreams.dsirScore(graft.io.Tables.documents(spark, d), wArr)
      .as[(Long, String, String, Long)].collect().toSet
    assert(batch.nonEmpty)

    val staged = java.nio.file.Files.createTempDirectory("docs_dsir")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/documents.parquet"),
      staged.resolve("documents.parquet"))
    val q = DocStreams.dsirScoreStream(spark, staged.toString, wArr)
      .writeStream.outputMode("append")
      .format("memory").queryName("dsir_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("dsir_out")
        .as[(Long, String, String, Long)].collect().toSet
      assert(streamed == batch)
      // the streamed scores reproduce the oracle-checked batch selection
      val top25 = streamed.toSeq.sortBy(t => (-t._4, t._1)).take(25)
        .map(t => (t._1, t._2, t._3, t._4))
      val q267 = graft.operators.Curation.q267DsirSelect(spark, d)
        .as[(Long, String, String, Long)].collect().toSeq
      assert(top25 == q267)
      // stateless: no state store in the plan, no state operator metrics
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { q.explain(extended = false) }
      assert(!buf.toString.contains("StateStore"))
      assert(Option(q.lastProgress).forall(_.stateOperators.isEmpty))
    } finally q.stop()
  }

  test("decontam transform is stateless (no state store operators)") {
    val d = "/root/testdata/sf0.001"
    val bench = DocStreams.benchmarkShingles(spark, d)
    val staged = java.nio.file.Files.createTempDirectory("docs_stream2")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/documents.parquet"),
      staged.resolve("documents.parquet"))
    val q = DocStreams.decontamStream(spark, staged.toString, bench)
      .writeStream.outputMode("append")
      .format("memory").queryName("decontam_stateless")
      .start()
    try {
      q.processAllAvailable()
      // a stateful plan would carry StateStoreSave/StateStoreRestore
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { q.explain(extended = false) }
      val plan = buf.toString
      assert(plan.nonEmpty && !plan.contains("StateStore"),
        s"unexpected state in:\n$plan")
      // and no aggregation state metrics were reported
      assert(Option(q.lastProgress).forall(_.stateOperators.isEmpty))
    } finally q.stop()
  }

  test("streaming LSH dedup == batch q41 candidate pairs, across microbatches") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val batch = Dedup.q41MinhashLsh(spark, d)
      .as[(Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)

    // stage the corpus as TWO files (split by doc_id parity) so pairs
    // spanning microbatches exercise the cross-batch state path — with
    // maxFilesPerTrigger=1 every (even, odd) pair needs state carry-over
    val staged = java.nio.file.Files.createTempDirectory("docs_lsh")
    val docs = graft.io.Tables.documents(spark, d)
    docs.filter($"doc_id" % 2 === 0).coalesce(1)
      .write.parquet(staged.resolve("part_even").toString)
    docs.filter($"doc_id" % 2 === 1).coalesce(1)
      .write.parquet(staged.resolve("part_odd").toString)
    // flatten: file source wants files in the dir root
    val dir = java.nio.file.Files.createTempDirectory("docs_lsh_flat")
    Seq("part_even", "part_odd").zipWithIndex.foreach { case (p, i) =>
      val f = java.nio.file.Files.list(staged.resolve(p))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(f, dir.resolve(s"$i.parquet"))
    }

    val q = DocStreams.lshDedupStream(spark, dir.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("lsh_dedup_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("lsh_dedup_out")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch)
      // state must actually have carried pairs across batches: at least
      // one pair joins an even and an odd doc_id
      assert(streamed.exists { case (a, b, _) => (a + b) % 2 == 1 })
      // and more than one microbatch ran
      assert(Option(q.lastProgress).exists(_.batchId >= 1))
    } finally q.stop()
  }

  test("streaming chunker == batch q91 and is stateless") {
    val d = "/root/testdata/sf0.001"
    val batch = graft.operators.Prep.q91DocChunks(spark, d)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)

    val staged = java.nio.file.Files.createTempDirectory("docs_chunk")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/documents.parquet"),
      staged.resolve("documents.parquet"))
    val q = DocStreams.chunkStream(spark, staged.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("chunk_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("chunk_out").collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(Option(q.lastProgress).forall(_.stateOperators.isEmpty))
    } finally q.stop()
  }

  test("streaming shard router == batch q140 assignment and is stateless") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    // batch reference: recompute q140's per-doc winner with its packed max
    val batch = {
      import spark.implicits._
      graft.io.Tables.documents(spark, d)
        .select($"doc_id", $"n_chars",
          explode(sequence(lit(0), lit(7))).as("shard"))
        .withColumn("k", graft.functions.Fns.hash60(
          concat($"doc_id", lit(":"), $"shard")) * 8 + $"shard")
        .groupBy($"doc_id")
        .agg(first($"n_chars").as("n_chars"), (max($"k") % 8).as("shard"))
        .collect().map(_.toSeq).toSet
    }
    assert(batch.nonEmpty)

    val staged = java.nio.file.Files.createTempDirectory("docs_route")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/documents.parquet"),
      staged.resolve("documents.parquet"))
    val q = DocStreams.shardRouteStream(spark, staged.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("route_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("route_out").collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(Option(q.lastProgress).forall(_.stateOperators.isEmpty))
    } finally q.stop()
  }

  test("update-mode corpus counters converge to batch totals across microbatches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val batch = graft.io.Tables.documents(spark, d)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(graft.functions.Fns.tokens($"text"))).as("n_tokens"))
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)

    // stage the SAME corpus as two files -> two microbatches, so the
    // final update per lang must equal the batch aggregate only after
    // state has accumulated across batches
    val staged = java.nio.file.Files.createTempDirectory("docs_card")
    val docs = graft.io.Tables.documents(spark, d)
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write
      .parquet(staged.resolve("part_a").toString)
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write
      .parquet(staged.resolve("part_b").toString)
    val src = staged.toString + "/part_*"
    val q = DocStreams.corpusCardStream(spark, src)
      .writeStream.outputMode("update")
      .format("memory").queryName("card_out")
      .start()
    try {
      q.processAllAvailable()
      // memory sink in update mode appends every emitted update; the
      // LAST row per lang is the converged counter
      val streamed = spark.table("card_out")
        .withColumn("rn", monotonically_increasing_id())
        .collect()
        .groupBy(_.getAs[String]("lang"))
        .map { case (lang, rows) =>
          val last = rows.maxBy(_.getAs[Long]("rn"))
          Seq(lang, last.getAs[Long]("n_docs"), last.getAs[Long]("n_tokens"))
        }.toSet
      assert(streamed == batch)
      // state operator present (it IS a stateful agg), no watermark needed
      assert(Option(q.lastProgress).exists(_.stateOperators.nonEmpty))
    } finally q.stop()
  }

  test("streaming repetition score == batch q366 per-doc scores; stateless") {
    val d = "/root/testdata/sf0.001"
    // batch per-doc scores via the q366 formulation (explode + groupBy)
    import org.apache.spark.sql.functions._
    val base = graft.io.Tables.documents(spark, d)
      .select(col("doc_id"), graft.functions.Fns.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
    def gramCounts(g: Int) = {
      val mk = (1 until g).foldLeft("element_at(tk, i)") { (acc, j) =>
        s"concat($acc, ' ', element_at(tk, i + $j))" }
      base.select(col("doc_id"),
          explode(expr(s"transform(sequence(1, size(tk) - ${g - 1}), i -> $mk)")).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(when(col("c") >= 2, col("c")).otherwise(0L)).as(s"dup$g"),
          max(col("c")).as(s"top$g"), sum(col("c")).as(s"n$g"))
    }
    val want = gramCounts(2).join(gramCounts(3), "doc_id")
      .select(col("doc_id"),
        expr("10000 * dup2 div n2").as("dup2_bp"),
        expr("10000 * dup3 div n3").as("dup3_bp"),
        expr("10000 * top2 div n2").as("top2_bp"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // streaming: every doc scored on arrival, no state store
    val staged = java.nio.file.Files.createTempDirectory("docs_rep")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/documents.parquet"),
      staged.resolve("documents.parquet"))
    val q = DocStreams.repetitionStream(spark, staged.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("rep_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("rep_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("dup2_bp"), r.getAs[Long]("dup3_bp"), r.getAs[Long]("top2_bp")))
        .toMap
      assert(got == want && got.nonEmpty)
      assert(Option(q.lastProgress).forall(_.stateOperators.isEmpty))
    } finally q.stop()
  }

  test("incremental dedup: broadcast-index default == plan-embedded twin") {
    // VERDICT r6 #7: the production path ships the corpus band index
    // as a Spark broadcast; the typedLit map stays as the test twin.
    // Both shapes must agree doc-for-doc, and the broadcast probe must
    // NOT carry the index inside its plan.
    val d = "/root/testdata/sf0.001"
    val idx = DocStreams.corpusBandIndex(spark, d)
    val docs = graft.io.Tables.documents(spark, d)
    val viaBroadcast = DocStreams.incrementalDedup(docs, idx)
      .collect().map(_.toSeq).toSet
    val viaPlan = DocStreams.incrementalDedupInPlan(docs, idx)
      .collect().map(_.toSeq).toSet
    assert(viaBroadcast == viaPlan && viaBroadcast.nonEmpty)
    // the plan-embedded twin serializes every band key into the plan;
    // the broadcast default must not (spot-check one corpus band key)
    val aKey = idx.keys.head
    val planOf: org.apache.spark.sql.DataFrame => String =
      df => df.queryExecution.analyzed.toString
    assert(planOf(DocStreams.incrementalDedupInPlan(docs, idx)).contains(aKey))
    assert(!planOf(DocStreams.incrementalDedup(docs, idx)).contains(aKey))
  }

  test("streaming incremental dedup == batch q52 and is stateless") {
    val d = "/root/testdata/sf0.001"
    val idx = DocStreams.corpusBandIndex(spark, d)
    assert(idx.nonEmpty)
    val batch = Dedup.q52IncrementalDedup(spark, d)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)

    val staged = java.nio.file.Files.createTempDirectory("docs_incdedup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/documents.parquet"),
      staged.resolve("documents.parquet"))
    val q = DocStreams.incrementalDedupStream(spark, staged.toString, idx)
      .writeStream.outputMode("append")
      .format("memory").queryName("incdedup_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("incdedup_out").collect().map(_.toSeq).toSet
      assert(streamed == batch)
      // the probe must actually flag something on this corpus
      assert(streamed.exists(_.last == true))
      assert(Option(q.lastProgress).forall(_.stateOperators.isEmpty))
    } finally q.stop()
  }

  test("foreachBatch gold-table sink is idempotent under duplicate delivery") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val docs = graft.io.Tables.documents(spark, d)
    val want = docs.select($"doc_id", $"source").collect().map(_.toSeq).toSet

    // stage with OVERLAP: batch b2 redelivers part of b1 (at-least-once
    // delivery), so a blind-append sink would double-count
    val staged = java.nio.file.Files.createTempDirectory("docs_gold_src")
    docs.filter($"doc_id" % 3 =!= 2).coalesce(1)
      .write.parquet(staged.resolve("b1").toString)
    docs.filter($"doc_id" % 3 =!= 0).coalesce(1) // % 3 == 1 delivered twice
      .write.parquet(staged.resolve("b2").toString)
    java.nio.file.Files.walk(staged.resolve("b2")).forEach { p =>
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + 60000))
    }
    val gold = java.nio.file.Files.createTempDirectory("docs_gold").toString
    val q = spark.readStream.schema(DocStreams.docSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staged/*")
      .select($"doc_id", $"source")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // merge-by-key upsert: old gold ∪ batch, deduped on doc_id —
        // replayed rows collapse instead of appending
        val existing =
          try spark.read.parquet(s"$gold/t").collect().toSeq
          catch { case _: Throwable => Seq.empty }
        val merged = (existing ++ batch.collect().toSeq)
          .map(r => r.getLong(0) -> r).toMap.values.toSeq
        spark.createDataFrame(
            spark.sparkContext.parallelize(merged), batch.schema)
          .write.mode("overwrite").parquet(s"$gold/t")
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      val got = spark.read.parquet(s"$gold/t").collect().map(_.toSeq).toSet
      assert(got == want,
        s"missing=${(want -- got).size} extra=${(got -- want).size}")
    } finally q.stop()
  }

  test("streaming dup-span == batch q286; stateless") {
    val d = "/root/testdata/sf0.001"
    val idx = DocStreams.dupGramIndex(spark, d)
    assert(idx.head().getSeq[Long](0).nonEmpty)
    val batch = graft.operators.Lexicon.q286DupSpanCoverage(spark, d)
      .collect().map(_.toSeq).toSet
    val staged = java.nio.file.Files.createTempDirectory("docs_dupspan")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/documents.parquet"),
      staged.resolve("documents.parquet"))
    val q = DocStreams.dupSpanStream(spark, staged.toString, idx)
      .writeStream.outputMode("append")
      .format("memory").queryName("dupspan_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("dupspan_out").collect().map(_.toSeq).toSet
      assert(streamed == batch && streamed.nonEmpty)
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { q.explain(extended = false) }
      assert(!buf.toString.contains("StateStore"))
      assert(Option(q.lastProgress).forall(_.stateOperators.isEmpty))
    } finally q.stop()
  }

  test("streaming novelty == batch q392: seeded state, per-doc rollup, cross-batch suppression") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    // batch side: q392 per-doc counts and its internal fresh relation
    val batch = Corpus.q392NoveltyIvm(spark, d)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

    val docs = graft.io.Tables.documents(spark, d)
    val baseSeed = graft.streaming.DocStreams.gramTypes(
      docs.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"), col("text")).as[(Long, String)])
      .map(_._2).distinct()

    // stage ONLY the delta docs as the stream input
    val staged = java.nio.file.Files.createTempDirectory("novelty_stream")
    docs.filter(col("doc_id") % 10 === 0)
      .write.mode("overwrite").parquet(staged.resolve("delta.parquet").toString)
    val q = graft.streaming.DocStreams.noveltyStream(
        spark, staged.resolve("delta.parquet").toString, baseSeed)
      .toDF("g", "first_doc")
      .writeStream.outputMode("append")
      .format("memory").queryName("novelty_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("novelty_out")
        .as[(String, Long)].collect()
      // per-doc new-type rollup equals the oracle-checked batch op
      val perDoc = streamed.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      batch.foreach { case (doc, (_, nNew)) =>
        assert(perDoc.getOrElse(doc, 0L) == nNew,
          s"doc $doc: stream ${perDoc.getOrElse(doc, 0L)} vs batch $nNew")
      }
      assert(streamed.map(_._1).distinct.length == streamed.length) // emitted once
    } finally q.stop()

    // cross-batch suppression on a crafted 2-batch stream
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val out = graft.streaming.DocStreams.noveltyStateful(
        graft.streaming.DocStreams.gramTypes(mem.toDS()),
        spark.emptyDataset[String])
      .toDF("g", "first_doc")
      .writeStream.outputMode("append")
      .format("memory").queryName("novelty_mem").start()
    try {
      mem.addData((1L, "a b c d"))       // grams: "a b c", "b c d"
      out.processAllAvailable()
      mem.addData((2L, "a b c x y z"))   // "a b c" seen; "b c x","c x y","x y z" new
      out.processAllAvailable()
      val got = spark.table("novelty_mem").as[(String, Long)].collect().toSet
      assert(got == Set(("a b c", 1L), ("b c d", 1L),
        ("b c x", 2L), ("c x y", 2L), ("x y z", 2L)))
    } finally out.stop()
  }
}
