package graft.stream

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec

/** T1/T2 — Structured Streaming behaviors: debounced change-feed reindex via
  * foreachBatch, and event-time windowed aggregation with a watermark (the
  * streaming face of t1_event_window).
  */
class StreamingSpec extends SparkSpec {

  test("change-feed stream drives foreachBatch reindex batches") {
    val feed = Files.createTempDirectory("graft-feed").toString
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Seq[String])]()
    val query = IncrementalIndexer.start(spark, feed, triggerMs = 100) {
      (batch, id) =>
        val paths = batch.select("changed_path").collect().map(_.getString(0)).toSeq
        if (paths.nonEmpty) seen.synchronized { seen += ((id, paths)) }
    }
    try {
      Files.writeString(java.nio.file.Paths.get(feed, "b1.json"),
        """{"changed_path":"app/a.py","change_type":"modified"}
          |{"changed_path":"app/b.py","change_type":"deleted"}
          |""".stripMargin)
      query.processAllAvailable()
      Files.writeString(java.nio.file.Paths.get(feed, "b2.json"),
        """{"changed_path":"app/c.py","change_type":"added"}
          |""".stripMargin)
      query.processAllAvailable()
    } finally query.stop()
    val all = seen.flatMap(_._2).toSet
    assert(all == Set("app/a.py", "app/b.py", "app/c.py"))
    assert(seen.size == 2) // one batch per debounce window, not per file
  }

  test("FileWatcher: touching a file in a real tree fires incremental reindex " +
    "with no manual feed writes") {
    val repo = Files.createTempDirectory("graft-watch-repo")
    Files.writeString(repo.resolve("a.py"),
      "def alpha():\n    return 1\n")
    Files.writeString(repo.resolve("b.py"),
      "def beta():\n    return 2\n")
    Files.writeString(repo.resolve(".gitignore"), "*.log\n")
    Files.writeString(repo.resolve("noise.log"), "ignored\n")

    // initial index = the watcher's baseline (watcher.rs watches post-index)
    var store = graft.analyze.Indexer.indexDirectory(
      spark, repo.toString, "watch-repo")
    assert(store.definitions.where(col("name") === "alpha").count() == 1)

    val feed = Files.createTempDirectory("graft-watch-feed").toString
    val watcher = new FileWatcher(repo.toString, feed, pollMs = 3600000L)
    watcher.start() // baseline snapshot; long poll — windows driven by tick()
    val batches = scala.collection.mutable.ArrayBuffer[Seq[(String, String)]]()
    val query = IncrementalIndexer.start(spark, feed, triggerMs = 100) {
      (batch, _) =>
        val rows = batch.select("changed_path", "change_type").collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        if (rows.nonEmpty) batches.synchronized { batches += rows }
    }
    try {
      // edit one file, add one, drop one, touch only ignored noise
      Files.writeString(repo.resolve("a.py"),
        "def alpha():\n    return 10\n\ndef alpha_new():\n    return 11\n")
      Files.writeString(repo.resolve("c.py"), "def gamma():\n    return 3\n")
      Files.delete(repo.resolve("b.py"))
      Files.writeString(repo.resolve("debug.log"), "still ignored\n")
      assert(watcher.tick() == 3) // one debounce window, gitignore honored
      query.processAllAvailable()
    } finally {
      query.stop()
      watcher.stop()
    }
    val window = batches.synchronized(batches.toSeq)
    assert(window.size == 1, s"expected one debounced batch, got $window")
    assert(window.head.toSet === Set(
      "a.py" -> "modified", "c.py" -> "added", "b.py" -> "deleted"))
    // the window drives the real M1-M3 path: the merged graph reflects the edit
    val survivingPaths = window.head.collect {
      case (p, t) if t != "deleted" => p
    }.toSet
    val freshFiles = graft.extract.FileScanner
      .scan(spark, repo.toString, "watch-repo")
      .filter(f => survivingPaths.contains(f.path))
    store = IncrementalIndexer.applyReindexBatch(spark, store,
      window.head.map(_._1), freshFiles)
    val names = store.definitions.select("name").collect().map(_.getString(0)).toSet
    assert(names.contains("alpha_new") && names.contains("gamma"))
    assert(!names.contains("beta"))
  }

  test("EventBus listener observes stream lifecycle + batch progress") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bus = EventBus.attach(spark)
    try {
      val input = MemoryStream[Long]
      val q = input.toDF().writeStream.format("memory")
        .queryName("busq").outputMode("append").start()
      input.addData(1L, 2L, 3L)
      q.processAllAvailable()
      q.stop()
      q.awaitTermination()
      // listener delivery is async; poll briefly for the terminal event
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline &&
        !bus.events.exists(_.isInstanceOf[EventBus.Terminated]))
        Thread.sleep(50)
      val evs = bus.events
      val qid = q.id.toString
      assert(evs.exists { case EventBus.Started(id, _) => id == qid; case _ => false })
      assert(evs.exists {
        case EventBus.BatchProgress(id, _, rows) => id == qid && rows == 3
        case _ => false
      })
      assert(evs.exists {
        case EventBus.Terminated(id, None) => id == qid; case _ => false
      })
    } finally EventBus.detach(spark, bus)
  }

  test("flatMapGroupsWithState sessionization: gap closes + watermark timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Long, Timestamp, Double)]
    val events = input.toDF().toDF("user_id", "ts", "value").as[SessionEvent]
    val sessions = StreamingSessionize.sessions(events,
      gapMs = 30 * 60 * 1000L, watermarkDelay = "10 minutes")
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      // batch 1: user 10 two events 10 min apart (one session), user 20 one
      input.addData(
        (10L, t("2024-01-01 00:00:00"), 1.0),
        (10L, t("2024-01-01 00:10:00"), 2.0),
        (20L, t("2024-01-01 00:05:00"), 7.0))
      q.processAllAvailable()
      // batch 2: user 10 again after a 50-min gap -> closes session 1 now
      input.addData((10L, t("2024-01-01 01:00:00"), 4.0))
      q.processAllAvailable()
      // batch 3: far-future event pushes the watermark past every
      // lastTs + gap -> remaining open sessions time out and emit
      input.addData((99L, t("2024-01-01 05:00:00"), 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.sql(
        "SELECT user_id, session_start, n_events, sum_value FROM sess " +
        "ORDER BY user_id, session_start").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == Seq(
      (10L, "2024-01-01 00:00:00.0", 2L, 3.0),
      (10L, "2024-01-01 01:00:00.0", 1L, 4.0),
      (20L, "2024-01-01 00:05:00.0", 1L, 7.0)))
    // user 99's session is still open (watermark hasn't passed it): not emitted
  }

  test("streaming exact dedup keeps first-seen docs, composes with quality cols") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val deduped = graft.stream.StreamingDedup
      .dedupStream(docs, "text", "ts", watermarkDelay = "1 hour")
      // stateless batch operators compose unchanged on the stream
      .withColumn("n_tok", size(graft.functions.TextFunctions.tokens(col("text"))))
    val q = deduped.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "the quick brown fox", t("2024-01-01 00:00:00")),
        (2L, "THE QUICK BROWN FOX", t("2024-01-01 00:01:00")), // dup after norm
        (3L, "something else entirely", t("2024-01-01 00:02:00")))
      q.processAllAvailable()
      input.addData( // cross-batch duplicate, still within the watermark
        (4L, "the QUICK brown fox", t("2024-01-01 00:10:00")),
        (5L, "a genuinely new document", t("2024-01-01 00:11:00")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.sql("SELECT doc_id, n_tok FROM dedup ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(rows.toSeq == Seq((1L, 4), (3L, 3), (5L, 4)))
  }

  test("streaming expectations: clean batches admitted, failing batches " +
    "quarantined whole, verdicts equal the batch expect, events published") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val quarantine = java.nio.file.Files
      .createTempDirectory("graft-quarantine").toString + "/q"
    val rules = Seq(
      "id_nonnull" -> col("doc_id").isNotNull,
      "text_nonempty" -> (length(col("text")) > 0))
    val admitted = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val verdicts = scala.collection.mutable.ArrayBuffer[
      graft.stream.StreamingExpect.BatchVerdict]()
    val bus = new graft.serve.EventPublisher
    val (_, busQueue) = bus.subscribe()

    val input = MemoryStream[(java.lang.Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = graft.stream.StreamingExpect.writer(docs, rules,
        admit = b => admitted.synchronized {
          admitted ++= b.collect().map(r => (r.getLong(0), r.getString(1)))
        },
        quarantineDir = quarantine, bus = Some(bus),
        onVerdict = v => verdicts.synchronized { verdicts += v })
      .start()
    try {
      val clean = Seq[(java.lang.Long, String)](
        (1L, "alpha"), (2L, "beta"))
      val dirty = Seq[(java.lang.Long, String)](
        (3L, "gamma"), (null, "delta"), (4L, ""))
      input.addData(clean: _*); q.processAllAvailable()
      input.addData(dirty: _*); q.processAllAvailable()

      // the streamed verdicts equal the batch expect on the same data
      for ((data, verdict) <- Seq(clean, dirty).zip(verdicts.sortBy(_.batchId))) {
        val batchDf = data.toDF("doc_id", "text")
        val batchRows = graft.operators.Profile.expect(batchDf, rules)
          .collect()
        val expectFailing = batchRows.filter(!_.getAs[Boolean]("pass"))
          .map(r => r.getAs[String]("rule") -> r.getAs[Long]("n_violations"))
          .toMap
        assert(verdict.nRows == data.size.toLong)
        assert(verdict.violations == expectFailing,
          s"batch ${verdict.batchId}: ${verdict.violations} vs $expectFailing")
        assert(verdict.passed == expectFailing.isEmpty)
      }

      // the clean batch was admitted, the dirty one was NOT
      assert(admitted.sorted.toSeq == Seq((1L, "alpha"), (2L, "beta")))
      // the dirty batch landed whole in quarantine with its batch id
      val quarantined = spark.read.parquet(quarantine)
      assert(quarantined.count() == 3)
      assert(quarantined.select("__batch_id").distinct().count() == 1)

      // the event bus saw one pass and one quarantine, with the rule detail
      val events = Iterator.continually(busQueue.poll()).takeWhile(_ != null).toSeq
      assert(events.exists(e => e.contains("\"ExpectationsPassed\"")))
      val quarEvent = events.find(_.contains("\"BatchQuarantined\""))
      assert(quarEvent.isDefined, events.mkString("\n"))
      assert(quarEvent.get.contains("\"id_nonnull\":1"), quarEvent.get)
      assert(quarEvent.get.contains("\"text_nonempty\":1"), quarEvent.get)
    } finally q.stop()
  }

  test("streaming triangles: per-batch admissions maintain the exact " +
    "census; replay is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-tri").toString + "/s"
    def edf(pairs: (Long, Long)*) = pairs
      .map { case (s, t) => ("DEF_TO_DEF", s, t) }
      .toDF("kind", "source_id", "target_id")
    // base: triangle 1-2-3 + pendant 3-4
    graft.store.TriangleStore.build(spark, dir,
      edf((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)))

    val deltas = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val input = MemoryStream[(String, Long, Long)]
    val q = graft.stream.StreamingTriangles.writer(
        input.toDF().toDF("kind", "source_id", "target_id"), dir,
        onDelta = (n, d) => deltas.synchronized { deltas += ((n, d)) })
      .start()
    try {
      input.addData(("DEF_TO_DEF", 2L, 4L)) // closes 2-3-4
      q.processAllAvailable()
      input.addData(("DEF_TO_DEF", 2L, 4L)) // replay: no-op
      q.processAllAvailable()
      input.addData(("DEF_TO_DEF", 1L, 4L)) // closes 1-2-4 and 1-3-4
      q.processAllAvailable()
    } finally q.stop()

    assert(deltas.toSeq == Seq((1L, 1L), (0L, 0L), (1L, 2L)), deltas.toString)
    val st = new graft.store.TriangleStore(dir, spark)
    assert(st.stats == ((6L, 4L)))
    assert(st.validate())
  }

  test("streaming search index: admissions keep rankings equal to a batch " +
    "rebuild; replayed batches admit nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-bm25").toString + "/idx"
    val seed = Seq((0L, "spark join fast"), (1L, "window functions"))
      .toDF("doc_id", "text")
    graft.store.SearchIndexStore.build(spark, dir, seed, "doc_id", "text")

    val input = MemoryStream[(Long, String)]
    val q = graft.stream.StreamingSearchIndex.writer(
      input.toDF().toDF("doc_id", "text"), dir, "doc_id", "text").start()
    val batch2 = Seq((2L, "spark window join"), (3L, "fast spark spark"))
    try {
      input.addData(batch2: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable() // crash replay
      input.addData((4L, "join window fast spark")); q.processAllAvailable()
    } finally q.stop()

    val st = new graft.store.SearchIndexStore(dir, spark)
    assert(st.validate())
    assert(st.doclens.count() == 5, "replay must not re-admit")
    // the streamed index ranks exactly like a one-shot batch rebuild
    val all = seed.unionByName(batch2.toDF("doc_id", "text"))
      .unionByName(Seq((4L, "join window fast spark")).toDF("doc_id", "text"))
    val rebuildDir = java.nio.file.Files
      .createTempDirectory("graft-stream-bm25-rebuild").toString + "/idx"
    val rebuilt = graft.store.SearchIndexStore
      .build(spark, rebuildDir, all, "doc_id", "text")
    val terms = Seq("spark", "join")
    assert(st.topK(terms, 5).collect().toSeq ==
      rebuilt.topK(terms, 5).collect().toSeq)
  }

  test("end-to-end streaming ingest: expectations gate -> idempotent " +
    "corpus admission -> manifest integrity") {
    // the full admission pipeline a production feed runs: every
    // micro-batch audited (StreamingExpect), clean batches admitted into
    // the published corpus via the replay-safe discipline CorpusStore.append
    // documents (dedup against stored ids first), dirty batches
    // quarantined — then the store validates end-to-end
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-ingest-corpus").toString + "/c"
    val quarantine = java.nio.file.Files
      .createTempDirectory("graft-ingest-quar").toString + "/q"
    // seed corpus: docs 0-9
    graft.store.CorpusStore.write(spark, corpusDir,
      (0L until 10L).map(i => (i, s"seed doc $i")).toDF("doc_id", "text"),
      "doc_id", "text", nShards = 4)

    val rules = Seq("text_nonempty" -> (length(col("text")) > 0))
    def admit(batch: org.apache.spark.sql.DataFrame): Unit = {
      // replay-safe: drop rows whose ids are already stored, then append
      val fresh = batch.join(
        graft.store.CorpusStore.docs(spark, corpusDir).select("doc_id"),
        Seq("doc_id"), "left_anti")
      if (!fresh.isEmpty)
        graft.store.CorpusStore.append(spark, corpusDir, fresh,
          "doc_id", "text")
      ()
    }

    val input = MemoryStream[(Long, String)]
    val q = graft.stream.StreamingExpect.writer(
        input.toDF().toDF("doc_id", "text"), rules, admit, quarantine)
      .start()
    try {
      input.addData((10L, "fresh ten"), (11L, "fresh eleven"))
      q.processAllAvailable()
      // crash-replay: the same batch again — admission must be a no-op
      input.addData((10L, "fresh ten"), (11L, "fresh eleven"))
      q.processAllAvailable()
      // a dirty batch: quarantined whole, corpus untouched
      input.addData((12L, ""), (13L, "would be fine"))
      q.processAllAvailable()
    } finally q.stop()

    val stored = graft.store.CorpusStore.docs(spark, corpusDir)
    assert(stored.count() == 12, "seed 10 + the two admitted docs, once")
    assert(stored.where(col("doc_id") === 10L).count() == 1)
    assert(stored.where(col("doc_id") >= 12L).count() == 0)
    // manifest stayed exact through admission + replay
    assert(graft.store.CorpusStore.validate(spark, corpusDir,
      "doc_id", "text") == 0L)
    // the dirty batch is intact in quarantine for triage
    assert(spark.read.parquet(quarantine).count() == 2)
  }

  test("streaming corpus filter: dedup + repetition verdict in one query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    // the whole batch filter chain is map-side column work, so it rides a
    // streaming query unchanged: first-seen dedup, then the Gopher
    // repetition verdict gates what reaches the sink
    val filtered = graft.pipeline.TextAnalysis.withRepetition(
        graft.stream.StreamingDedup.dedupStream(docs, "text", "ts",
          watermarkDelay = "1 hour"), "text")
      .where(col("repetition_keep"))
      .select("doc_id", "top_2gram_frac")
    val q = filtered.writeStream.format("memory").queryName("corpusfilter")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "a varied document with mostly distinct words inside", t("2024-01-01 00:00:00")),
        (2L, "spam spam spam spam spam spam spam", t("2024-01-01 00:01:00")), // repetitive
        (3L, "A VARIED document with mostly distinct words inside", t("2024-01-01 00:02:00"))) // dup
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.sql("SELECT doc_id FROM corpusfilter ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L)) // dup dropped by dedup, spam dropped by verdict
  }

  test("streaming funnel: stage advances match the batch funnel across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val steps = Seq("view", "click", "purchase")
    val batch1 = Seq(
      graft.stream.FunnelEvent(1L, "view", t("2024-01-01 00:00:00")),
      graft.stream.FunnelEvent(1L, "click", t("2024-01-01 00:05:00")),
      // user 2: purchase precedes the click -> must NOT advance past 2
      graft.stream.FunnelEvent(2L, "view", t("2024-01-01 00:00:00")),
      graft.stream.FunnelEvent(2L, "purchase", t("2024-01-01 00:01:00")),
      // user 3: same-instant view+click -> both stages at once
      graft.stream.FunnelEvent(3L, "click", t("2024-01-01 00:00:00")),
      graft.stream.FunnelEvent(3L, "view", t("2024-01-01 00:00:00")))
    val batch2 = Seq(
      // cross-batch continuation: user 1 completes, user 2 clicks late
      graft.stream.FunnelEvent(1L, "purchase", t("2024-01-01 00:20:00")),
      graft.stream.FunnelEvent(2L, "click", t("2024-01-01 00:21:00")))
    val input = MemoryStream[graft.stream.FunnelEvent]
    val q = graft.stream.StreamingFunnel.advances(input.toDS(), steps,
        watermarkDelay = "1 hour", idleTimeoutMs = 3600L * 1000)
      .writeStream.format("memory").queryName("sfunnel")
      .outputMode("append").start()
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.sql("SELECT user_id, max(stage) AS stage FROM sfunnel GROUP BY 1")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val batchStages = graft.pipeline.TimeSeries.funnelStages(
        (batch1 ++ batch2).toDF(), "user_id", "event_type", "ts", steps)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val streamedAll = (1L to 3L).map(u => u -> streamed.getOrElse(u, 0)).toMap
    val batchAll = (1L to 3L).map(u => u -> batchStages.getOrElse(u, 0)).toMap
    assert(streamedAll == batchAll, s"stream $streamedAll vs batch $batchAll")
    assert(batchAll == Map(1L -> 3, 2L -> 2, 3L -> 2), batchAll.toString)
  }

  test("streaming funnel survives a stalled stage once the watermark passes its timeout") {
    // regression: a user mid-funnel re-sends the PREVIOUS step (no stage
    // advance), after the watermark has moved far past reachedAt +
    // idleTimeout. The unclamped setTimeoutTimestamp(reachedAt + timeout)
    // then hands GroupState a non-future timestamp and the query dies with
    // IllegalArgumentException on perfectly ordinary data; the clamp pins
    // the timeout just past the watermark instead.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val steps = Seq("view", "click", "purchase")
    val input = MemoryStream[graft.stream.FunnelEvent]
    // model a BUSY stream: with data available every trigger, Spark runs no
    // interleaved empty batches, so a key active in every batch is never
    // reaped by timeout between the watermark jump and its next event — the
    // exact window where the unclamped timestamp lands behind the watermark
    val prevNoData = spark.conf
      .getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val q = graft.stream.StreamingFunnel.advances(input.toDS(), steps,
        watermarkDelay = "1 minute", idleTimeoutMs = 1000L)
      .writeStream.format("memory").queryName("sfunnel_clamp")
      .outputMode("append").start()
    try {
      // batch 1: user 1 reaches stage 1 at 00:00 (timeout then = 00:00:01)
      input.addData(
        graft.stream.FunnelEvent(1L, "view", t("2024-01-01 00:00:00")))
      q.processAllAvailable()
      // batch 2: user 99 drags the watermark toward ~09:59; user 1's
      // repeated 'view' keeps its key busy so the timeout never fires
      input.addData(
        graft.stream.FunnelEvent(99L, "view", t("2024-01-01 10:00:00")),
        graft.stream.FunnelEvent(1L, "view", t("2024-01-01 00:00:30")))
      q.processAllAvailable()
      // batch 3: another repeated 'view' — stale reachedAt (00:00) now sits
      // hours behind the 09:59 watermark
      input.addData(
        graft.stream.FunnelEvent(1L, "view", t("2024-01-01 09:59:30")))
      q.processAllAvailable() // unclamped: StreamingQueryException here
      assert(q.isActive, q.exception.map(_.toString).getOrElse(""))
    } finally {
      q.stop()
      prevNoData match {
        case Some(v) => spark.conf
          .set("spark.sql.streaming.noDataMicroBatches.enabled", v)
        case None => spark.conf
          .unset("spark.sql.streaming.noDataMicroBatches.enabled")
      }
    }
    val stages = spark.sql(
        "SELECT user_id, max(stage) AS s FROM sfunnel_clamp GROUP BY 1")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(stages == Map(1L -> 1, 99L -> 1), stages.toString)
  }

  test("streaming ann: stream top-k equals the stored-index batch probe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-sann").toString
    val idx = graft.store.AnnIndexStore.build(spark, dir, embs,
      "vec_id", "embedding", nlist = 8, lloydIters = 2)

    val queryIds = Seq(3L, 7L, 11L)
    val vecs = embs.where(col("vec_id").isin(queryIds: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val input = MemoryStream[(Long, Array[Float], Timestamp)]
    val out = graft.stream.StreamingAnn.topKStream(
      input.toDF().toDF("vec_id", "embedding", "ts"), idx,
      "vec_id", "embedding", "ts",
      watermarkDelay = "10 minutes", windowDuration = "1 hour",
      k = 3, nprobe = 3)
    val q = out.writeStream.format("memory").queryName("sann")
      .outputMode("append").start()
    try {
      input.addData(queryIds.map(id => (id, vecs(id), t("2024-01-01 00:05:00"))): _*)
      q.processAllAvailable()
      // advance the watermark past the window end so the agg emits (a real
      // vector: zero vectors are filtered before the watermark operator and
      // would not advance event time)
      input.addData((999999L, vecs(3L), t("2024-01-01 02:00:00")))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.sql("SELECT q_id, rank, neighbor_id, cosine FROM sann")
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val batch = idx.topK(embs.where(col("vec_id").isin(queryIds: _*)),
        "vec_id", "embedding", k = 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3)) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(streamed == batch,
      s"stream $streamed\nbatch  $batch")
  }

  test("streaming ann admission: micro-batches land exactly-once in the " +
    "persisted cells; cross-seam probe equals batch admission") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-sannadm")
      .toString
    val idx = graft.store.AnnIndexStore.build(spark, dir,
      embs.where(col("vec_id") % 3 === 0), "vec_id", "embedding",
      nlist = 8, lloydIters = 2)

    val rest = embs.where(col("vec_id") % 3 =!= 0)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val (b1, b2) = rest.partition(_._1 % 3 == 1)
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.stream.StreamingAnnIndex.writer(
        input.toDF().toDF("vec_id", "embedding"), dir,
        "vec_id", "embedding")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    def drain(): Unit = { val s = q.start(); s.awaitTermination() }
    input.addData(b1: _*); drain()
    input.addData(b1: _*) // replayed micro-batch: the guard must no-op it
    input.addData(b2: _*); drain()

    // exactly-once: one cell row per distinct vector, none lost
    val cellVids = idx.cells.select("vid").collect().map(_.getLong(0))
    assert(cellVids.length == cellVids.distinct.length,
      "replayed batch must not duplicate cell rows")
    assert(cellVids.length == graft.pipeline.Similarity
      .normalizedVectors(embs, "vec_id", "embedding").count(),
      "every admitted (nonzero) vector must be present")

    // cross-seam parity: streamed admission == batch append of the same
    // vectors under the same frozen quantizer
    val batchDir = java.nio.file.Files.createTempDirectory("graft-sannadm2")
      .toString
    val batchIdx = graft.store.AnnIndexStore.build(spark, batchDir,
      embs.where(col("vec_id") % 3 === 0), "vec_id", "embedding",
      nlist = 8, lloydIters = 2)
    batchIdx.append(embs.where(col("vec_id") % 3 =!= 0),
      "vec_id", "embedding")
    def probe(ix: graft.store.AnnIndexStore) =
      ix.topK(embs.where(col("vec_id") < 10), "vec_id", "embedding",
          k = 3, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1))
        .toMap
    assert(probe(idx) == probe(batchIdx),
      "streamed and batch admission must serve identical probes")
  }

  test("streaming publish: micro-batches append shard-stably; manifest stays consistent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-spub").toString
    // one-time init (possibly empty) fixes the shard count in meta
    graft.store.CorpusStore.write(spark, dir,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text",
      nShards = 4)
    val b1 = Seq((1L, "alpha beta"), (2L, "gamma delta epsilon"))
    val b2 = Seq((3L, "zeta eta"), (4L, "theta iota kappa lambda mu"))
    val input = MemoryStream[(Long, String)]
    val q = graft.stream.StreamingPublish.writer(
      input.toDS().toDF("doc_id", "text"), dir, "doc_id", "text").start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val back = graft.store.CorpusStore.docs(spark, dir)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(back == (b1 ++ b2).toSet)
    // stored manifest is consistent with the stored data after two merges
    assert(graft.store.CorpusStore.validate(spark, dir, "doc_id", "text") == 0L)
    // the streamed store is shard-for-shard identical to a one-shot batch
    // publish of the same rows (the id-hash shard is corpus-state-free)
    val dirB = java.nio.file.Files.createTempDirectory("graft-spub-b").toString
    graft.store.CorpusStore.write(spark, dirB, (b1 ++ b2).toDF("doc_id", "text"),
      "doc_id", "text", nShards = 4)
    def shards(d: String) = graft.store.CorpusStore.docs(spark, d)
      .select("doc_id", "shard").as[(Long, Int)].collect().toMap
    assert(shards(dir) == shards(dirB))
    val mf = graft.store.CorpusStore.manifest(spark, dir)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val mfB = graft.store.CorpusStore.manifest(spark, dirB)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(mf == mfB, s"streamed $mf vs batch $mfB")
  }

  test("streaming sketch: batch merges land on the one-shot estimates; replay is idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ssk").toString
    val b1 = Seq(("a", 1L), ("a", 2L), ("b", 10L))
    val b2 = Seq(("a", 2L), ("a", 3L), ("b", 11L), ("c", 99L))
    graft.store.SketchStore.build(spark, dir,
      Seq.empty[(String, Long)].toDF("grp", "uid"), "grp", "uid")
    val input = MemoryStream[(String, Long)]
    val q = graft.stream.StreamingSketch.writer(
      input.toDS().toDF("grp", "uid"), dir).start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      // idempotent replay: re-merging an already-seen batch changes nothing
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = new graft.store.SketchStore(dir, spark).estimates
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // equal to a one-shot batch build over the union (registers are
    // per-item maxima — order- and replay-free)
    val oneShot = graft.store.SketchStore.build(spark,
        java.nio.file.Files.createTempDirectory("graft-ssk2").toString,
        (b1 ++ b2).toDF("grp", "uid"), "grp", "uid")
      .estimates.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == oneShot, s"$streamed vs $oneShot")
    assert(streamed == Map("a" -> 3L, "b" -> 2L, "c" -> 1L)) // sparse = exact
  }

  test("streaming cross-corpus dedup screens the feed against a static index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val seen = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again today"),
      (101L, "a completely unrelated historical document about query planning")
    ).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val pairs = graft.stream.StreamingCrossDedup.pairStream(
      docs, seen, "doc_id", "text", "ts", watermarkDelay = "1 hour",
      threshold = 0.5)
    val q = pairs.writeStream.format("memory").queryName("xdedup")
      .outputMode("append").start()
    try {
      input.addData(
        // near-dup of seen 100 (same text, one word changed): many agreeing
        // bands -> the pair must still emit exactly ONCE
        (1L, "the quick brown fox jumps over the lazy dog again and again tomorrow", t("2024-01-01 00:00:00")),
        (2L, "genuinely novel content with no historical counterpart at all", t("2024-01-01 00:01:00")))
      q.processAllAvailable()
      input.addData( // second batch: the SAME pair re-arriving within the
        // watermark is suppressed by the pair-keyed state
        (1L, "the quick brown fox jumps over the lazy dog again and again tomorrow", t("2024-01-01 00:10:00")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.sql("SELECT doc_id, seen_id FROM " +
        "(SELECT new_id AS doc_id, seen_id FROM xdedup) ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 100L)))
    // agrees with the batch twin on the same data
    val batch = graft.pipeline.Dedup.crossCorpusPairs(
        Seq((1L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
          (2L, "genuinely novel content with no historical counterpart at all"))
          .toDF("doc_id", "text"),
        seen, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(batch == Seq((1L, 100L)))
  }

  test("indexed streaming cross-dedup reads the persisted admission index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val seen = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again today"),
      (101L, "a completely unrelated historical document about query planning")
    ).toDF("doc_id", "text")
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_stream_idx").toString
    val idx = graft.store.DedupIndexStore.build(spark, idxDir, seen,
      "doc_id", "text")
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val pairs = graft.stream.StreamingCrossDedup.pairStreamIndexed(
      docs, idx, "doc_id", "text", "ts", watermarkDelay = "1 hour",
      threshold = 0.5)
    val q = pairs.writeStream.format("memory").queryName("xdedupidx")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "the quick brown fox jumps over the lazy dog again and again tomorrow", t("2024-01-01 00:00:00")),
        (2L, "genuinely novel content with no historical counterpart at all", t("2024-01-01 00:01:00")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.sql(
        "SELECT new_id, seen_id FROM xdedupidx ORDER BY new_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 100L)))

    // an admission APPEND lands new history; a RESTARTED stream (fresh plan
    // = fresh parquet listing) sees it with no rebuild — the snapshot
    // rotation cadence
    idx.append(Seq((102L, "brand new admitted corpus entry about stream processing engines"))
      .toDF("doc_id", "text"), "doc_id", "text")
    val input2 = MemoryStream[(Long, String, Timestamp)]
    val pairs2 = graft.stream.StreamingCrossDedup.pairStreamIndexed(
      input2.toDF().toDF("doc_id", "text", "ts"), idx,
      "doc_id", "text", "ts", watermarkDelay = "1 hour", threshold = 0.5)
    val q2 = pairs2.writeStream.format("memory").queryName("xdedupidx2")
      .outputMode("append").start()
    try {
      input2.addData(
        (3L, "brand new admitted corpus entry about stream processing systems", t("2024-01-01 00:02:00")))
      q2.processAllAvailable()
    } finally q2.stop()
    val rows2 = spark.sql(
        "SELECT new_id, seen_id FROM xdedupidx2 ORDER BY new_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows2 == Seq((3L, 102L)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idxDir))
  }

  test("watermarked tumbling window over an event stream matches batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val agg = events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win"),
        col("event_type"), col("n"), col("sum_value"))
    def t(s: String) = Timestamp.valueOf(s)
    input.addData(
      (t("2024-01-01 00:10:00"), "click", 1.0),
      (t("2024-01-01 00:40:00"), "click", 2.0),
      (t("2024-01-01 01:10:00"), "view", 5.0),
      (t("2024-01-01 00:20:00"), "view", 3.0))
    val q = agg.writeStream.format("memory").queryName("winagg")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT * FROM winagg ORDER BY win, event_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == Seq(
      ("2024-01-01 00:00:00", "click", 2L, 3.0),
      ("2024-01-01 00:00:00", "view", 1L, 3.0),
      ("2024-01-01 01:00:00", "view", 1L, 5.0)))
  }
  test("streaming DSIR scoring: static-fitted model selects en-like docs online") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    // static reference corpus: what "target-like" means is fitted offline
    val corpus = Seq(
      (100L, "en", "the quick brown fox jumps over the lazy dog"),
      (101L, "en", "the quick brown fox naps beside the lazy dog"),
      (102L, "de", "der schnelle braune fuchs springt uber den faulen hund"),
      (103L, "de", "vollig anderer inhalt uber maschinen und anlagen")
    ).toDF("doc_id", "lang", "text")
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    // stateless scoring + online selection: no watermark, no state store
    val selected = graft.stream.StreamingScore.dsirStream(
      docs, corpus, "doc_id", "text",
      org.apache.spark.sql.functions.col("lang") === "en",
      buckets = 64, keepAbove = Some(0.0))
    val q = selected.writeStream.format("memory").queryName("dsirsel")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "the quick brown fox jumps over the lazy dog", t("2024-01-01 00:00:00")),
        (2L, "der schnelle braune fuchs springt uber den faulen hund", t("2024-01-01 00:01:00")),
        (3L, "", t("2024-01-01 00:02:00")))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.sql("SELECT doc_id, dsir_logw FROM dsirsel ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(kept.map(_._1).toSeq == Seq(1L), s"selected: ${kept.toSeq}")
    assert(kept.head._2 > 0.0)
  }

  test("streaming DSIR scoring: null/empty text scores 0.0 like the batch path") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val corpus = Seq(
      (100L, "en", "the quick brown fox jumps over the lazy dog"),
      (101L, "de", "der schnelle braune fuchs springt uber den faulen hund")
    ).toDF("doc_id", "lang", "text")
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    // threshold below 0.0: null- and empty-text docs must be KEPT at
    // dsir_logw = 0.0 (the batch withImportance convention), not silently
    // dropped because a null score fails every comparison
    val selected = graft.stream.StreamingScore.dsirStream(
      docs, corpus, "doc_id", "text",
      org.apache.spark.sql.functions.col("lang") === "en",
      buckets = 64, keepAbove = Some(-10.0))
    val q = selected.writeStream.format("memory").queryName("dsirnull")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, null.asInstanceOf[String], t("2024-01-01 00:00:00")),
        (2L, "", t("2024-01-01 00:01:00")))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.sql("SELECT doc_id, dsir_logw FROM dsirnull ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(kept.toSeq == Seq((1L, 0.0), (2L, 0.0)), s"selected: ${kept.toSeq}")
  }

  test("streaming resample: sealed buckets + LOCF gaps across micro-batch " +
    "seams equal the batch grid") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Long, Timestamp, Double)]
    val events = input.toDF().toDF("user_id", "ts", "value").as[ResampleEvent]
    val out = StreamingResample.resampled(events, bucketSeconds = 86400L,
      watermarkDelay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("resamp")
      .outputMode("append").start()
    try {
      // batch 1: user 10 day 0 (two events), user 20 day 1
      input.addData(
        (10L, t("2024-01-01 05:00:00"), 1.0),
        (10L, t("2024-01-01 09:00:00"), 3.0),
        (20L, t("2024-01-02 12:00:00"), 5.0))
      q.processAllAvailable()
      // batch 2: user 10 reactivates at day 3 — days 1-2 are the gap
      input.addData((10L, t("2024-01-04 00:00:00"), 9.0))
      q.processAllAvailable()
      // watermark pusher, then one more trigger so event-time timeouts
      // seal the remaining buckets of the silent keys
      input.addData((99L, t("2024-02-01 00:00:00"), 0.0))
      q.processAllAvailable()
      input.addData((99L, t("2024-02-02 00:00:00"), 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.sql("SELECT * FROM resamp WHERE user_id < 99 " +
        "ORDER BY user_id, bucket_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    val batch = graft.pipeline.TimeSeries.resample(
      Seq((10L, t("2024-01-01 05:00:00"), 1.0),
        (10L, t("2024-01-01 09:00:00"), 3.0),
        (20L, t("2024-01-02 12:00:00"), 5.0),
        (10L, t("2024-01-04 00:00:00"), 9.0))
        .toDF("user_id", "ts", "value"),
      "user_id", "ts", "value", 86400L)
      .orderBy("user_id", "bucket_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(streamed.toSeq == batch.toSeq,
      s"stream/batch diverged:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
    assert(streamed.length == 5) // day0 + 2 gap days + day3, and user 20
  }

  test("streaming anomalies: reference-fitted med/MAD baseline scores " +
    "map-side; batch-mode parity with TimeSeries.anomalies") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val reference = Seq(
      (1L, 10L, 1.0), (2L, 10L, 2.0), (3L, 10L, 3.0), (4L, 10L, 4.0),
      (5L, 10L, 100.0), // outlier in the reference slice
      (6L, 20L, 7.0), (7L, 20L, 7.0), (8L, 20L, 7.0) // constant: MAD 0
    ).toDF("event_id", "user_id", "value")
    val baseline = StreamingAnomalies.fitBaseline(reference, "user_id", "value")

    // batch-mode parity: scoring the reference against its own baseline
    // reproduces the batch face exactly (same flags, same med/mad/z)
    val viaStream = StreamingAnomalies.flagged(reference, baseline,
      "user_id", "event_id", "value").orderBy("event_id").collect().map(_.toSeq)
    val viaBatch = graft.pipeline.TimeSeries.anomalies(reference,
      "user_id", "event_id", "value").orderBy("event_id").collect().map(_.toSeq)
    assert(viaStream.toSeq == viaBatch.toSeq,
      s"baseline scoring diverged:\n${viaStream.toSeq}\nvs\n${viaBatch.toSeq}")

    // streaming face: unseen keys and MAD-0 keys flag nothing; the known
    // key flags against the REFERENCE baseline (med 3.0, mad 1.0 — the
    // reference outlier cannot drag the median baseline)
    val input = MemoryStream[(Long, Long, Double, Timestamp)]
    val events = input.toDF().toDF("event_id", "user_id", "value", "ts")
    val q = StreamingAnomalies.flagged(events, baseline,
      "user_id", "event_id", "value")
      .writeStream.format("memory").queryName("anom")
      .outputMode("append").start()
    try {
      input.addData(
        (100L, 10L, 50.0, t("2024-01-01 00:00:00")), // |z| huge -> flag
        (101L, 10L, 3.0, t("2024-01-01 00:01:00")),  // in range -> quiet
        (102L, 20L, 999.0, t("2024-01-01 00:02:00")), // MAD-0 key -> quiet
        (103L, 30L, 999.0, t("2024-01-01 00:03:00"))) // unseen key -> quiet
      q.processAllAvailable()
    } finally q.stop()
    val flagged = spark.sql(
        "SELECT user_id, event_id, value, med, mad, z FROM anom").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(flagged.toSeq ==
      Seq((10L, 100L, 50.0, 3.0, 1.0, round4(0.6745 * 47))),
      flagged.toSeq.toString)
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

}
