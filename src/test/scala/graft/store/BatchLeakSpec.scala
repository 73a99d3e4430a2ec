package graft.store

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TransientCache
import graft.pipeline.CurationPipeline
import graft.stream.{StreamingAnnIndex, StreamingCuration, StreamingSearchIndex}

/** Every batch face that materializes intermediates — the composed
  * pipeline, the stream admissions, the store admissions and compactions,
  * the graph index and the watcher's reindex — leaves the session as it
  * found it, on success and when the batch fails: no persisted RDD made by
  * the call survives it, and the fragment registry is back to its pre-call
  * size. A failure is injected through an input frame whose evaluation
  * throws (for a face that reads only a store: an unreadable data file in a
  * table it reads; for the index: a store directory it cannot create).
  */
class BatchLeakSpec extends SparkSpec {
  import spark.implicits._

  private val boom = udf { (s: String) =>
    if (s != null) throw new IllegalStateException("injected failure"); s
  }
  private val boomVec = udf { (v: Seq[Double]) =>
    if (v != null) throw new IllegalStateException("injected failure"); v
  }

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Run `f` and assert it leaves no frame and no fragment behind. */
  private def leakFree[T](what: String)(f: => T): T = {
    TransientCache.drain()
    val (rdds, reg) = (persisted, TransientCache.registeredCount)
    val out = f
    val left = spark.sparkContext.getPersistentRDDs.filter { case (id, _) =>
      !rdds(id) }.values.map(_.toDebugString.linesIterator.take(3)
        .mkString(" / ")).toList
    assert(left.isEmpty, s"$what left persisted RDDs:\n${left.mkString("\n")}")
    assert(TransientCache.registeredCount == reg,
      s"$what left ${TransientCache.registeredCount - reg} fragments")
    out
  }

  private def failsLeakFree(what: String)(f: => Any): Unit =
    leakFree(s"failed $what")(intercept[Exception](f))

  private def tmp(tag: String) =
    Files.createTempDirectory(s"graft-leak-$tag").toString

  // gopher-compliant two-line docs with distinct content per seed
  private def doc(id: Long, seed: Int): (Long, String, String) = {
    val vocab = Vector("system", "window", "garden", "filter", "motion",
      "stream", "sample", "record", "butter", "craft", "signal", "marble",
      "copper", "thread", "sketch", "bridge", "violet", "hammer", "laptop",
      "bottle")
    val ws = (0 until 60).map { i =>
      if (i % 7 == 0) Seq("the", "of", "and", "to", "in", "is")(i % 6)
      else vocab((seed * 13 + i * 5) % vocab.size)
    }
    (id, ws.take(30).mkString(" ") + "\n" + ws.drop(30).mkString(" "), "srcA")
  }
  private def docs(ids: Range): DataFrame =
    ids.map(i => doc(i.toLong, i)).toDF("doc_id", "text", "source")
  private def failing(df: DataFrame, c: String = "text") =
    df.withColumn(c, boom(col(c)))
  private val bench = Seq((900L, (0 until 60).map(i => s"benchitem$i")
    .mkString(" "), "b")).toDF("doc_id", "text", "source")
  private val cfg = CurationPipeline.Config(minBoilerDocs = 3)
  private def index(dir: String) = DedupIndexStore.build(spark, dir,
    docs(100 to 101).select("doc_id", "text"), "doc_id", "text")

  private def runE2e(in: DataFrame, root: String, threshold: Long) =
    CurationPipeline.run(spark, in, "doc_id", "text", bench, "text",
      dsirTarget = col("source") === "srcA", index = index(s"$root/idx"),
      publishDir = s"$root/pub", cfg = cfg, aqeOffBelowBytes = threshold)

  /** Append an unreadable "parquet" file to the live generation of `table`
    * (or, for a partitioned table, of its `partition` directory).
    */
  private def corrupt(table: String, partition: String = ""): Unit = {
    val live = new org.apache.hadoop.fs.Path(
      StoreCompaction.appendTarget(spark, table)).toUri.getPath
    Files.write(Paths.get(live, partition, "part-99999-corrupt.parquet"),
      "not a parquet file".getBytes)
  }

  test("curation run: nothing outlives the run but its read-back cache, " +
    "in micro-batch and corpus mode, on success and failure") {
    for (threshold <- Seq(256L << 20, 0L)) {
      val root = tmp("run")
      leakFree(s"run (threshold $threshold)") {
        val reg = TransientCache.registeredCount
        val r = runE2e(docs(2 to 9), root, threshold)
        assert(r.summary.collect().nonEmpty)
        // the one registration the summary needs; its store's next
        // publish (here: an explicit path drain) reclaims it
        assert(TransientCache.registeredCount == reg + 1)
        TransientCache.drainPath(s"$root/pub")
      }
      failsLeakFree(s"run (threshold $threshold)") {
        runE2e(failing(docs(2 to 9)), tmp("runf"), threshold)
      }
    }
  }

  test("a failed corpus-mode run never frees the caller's checkpointed " +
    "input") {
    val input = docs(2 to 9).localCheckpoint(true)
    intercept[Exception] {
      CurationPipeline.run(spark, input, "doc_id", "text",
        failing(bench), "text", dsirTarget = col("source") === "srcA",
        index = index(s"${tmp("own")}/idx"),
        publishDir = s"${tmp("own")}/pub", cfg = cfg, aqeOffBelowBytes = 0L)
    }
    assert(input.count() == 8)
  }

  test("resumable run: leak-free on success and failure") {
    def resumable(in: DataFrame) = {
      val root = tmp("resume")
      CurationPipeline.runResumable(spark, in, "doc_id", "text", bench,
        "text", dsirTarget = col("source") === "srcA",
        index = index(s"$root/idx"), publishDir = s"$root/pub",
        workDir = s"$root/work", cfg = cfg)
    }
    leakFree("runResumable") {
      val r = resumable(docs(2 to 9))
      assert(r.summary.collect().nonEmpty)
      TransientCache.drain() // the read-back cache, as in run
    }
    failsLeakFree("runResumable")(resumable(failing(docs(2 to 9))))
  }

  test("streaming curation batch: leak-free on success and failure") {
    def process(in: DataFrame) = {
      val root = tmp("scur")
      CorpusStore.write(spark, s"$root/pub",
        Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text",
        nShards = 4)
      StreamingCuration.processBatch(in, "doc_id", "text", bench, "text",
        index(s"$root/idx"), s"$root/pub", cfg)
    }
    assert(leakFree("processBatch")(process(docs(2 to 9))) > 0)
    failsLeakFree("processBatch")(process(failing(docs(2 to 9))))
  }

  private def vectors(ids: Range): DataFrame =
    ids.map(i => (i.toLong, Seq(1.0 + i % 3, (i % 5).toDouble, 0.5, i % 2.0)))
      .toDF("vec_id", "embedding")
  private def failingVec(df: DataFrame) =
    df.withColumn("embedding", boomVec(col("embedding")))

  test("ANN admission and store faces: leak-free on success and failure") {
    val dir = tmp("ann")
    val st = AnnIndexStore.build(spark, dir, vectors(1 to 40), "vec_id",
      "embedding", nlist = 4)
    assert(leakFree("admitBatch")(StreamingAnnIndex.admitBatch(
      vectors(30 to 60), dir, "vec_id", "embedding")) == 20)
    failsLeakFree("admitBatch")(StreamingAnnIndex.admitBatch(
      failingVec(vectors(70 to 80)), dir, "vec_id", "embedding"))
    leakFree("AnnIndexStore.append")(
      st.append(vectors(61 to 69), "vec_id", "embedding"))
    failsLeakFree("AnnIndexStore.append")(
      st.append(failingVec(vectors(81 to 90)), "vec_id", "embedding"))
    leakFree("AnnIndexStore.retire")(
      st.retire(Seq(1L, 2L).toDF("vec_id"), "vec_id"))
    leakFree("AnnIndexStore.compact")(st.compact())
    val cid = Files.list(Paths.get(new org.apache.hadoop.fs.Path(
        StoreCompaction.appendTarget(spark, s"$dir/cells")).toUri.getPath))
      .filter(_.getFileName.toString.startsWith("cid="))
      .findFirst().get().getFileName.toString
    corrupt(s"$dir/cells", cid)
    st.retire(Seq(3L).toDF("vec_id"), "vec_id")
    failsLeakFree("AnnIndexStore.compact")(st.compact())
  }

  test("lexical index admission and store faces: leak-free on success and " +
    "failure") {
    val dir = tmp("search")
    val st = SearchIndexStore.build(spark, dir,
      docs(1 to 5).select("doc_id", "text"), "doc_id", "text")
    leakFree("search writer batch")(StreamingSearchIndex.admitBatch(
      docs(4 to 8), dir, "doc_id", "text"))
    failsLeakFree("search writer batch")(StreamingSearchIndex.admitBatch(
      failing(docs(9 to 12)), dir, "doc_id", "text"))
    leakFree("SearchIndexStore.append")(
      st.append(docs(20 to 22), "doc_id", "text"))
    failsLeakFree("SearchIndexStore.append")(
      st.append(failing(docs(23 to 25)), "doc_id", "text"))
    leakFree("SearchIndexStore.retire")(
      st.retire(Seq(1L).toDF("doc_id"), "doc_id"))
    leakFree("SearchIndexStore.compact")(st.compact())
    corrupt(s"$dir/postings")
    st.retire(Seq(2L).toDF("doc_id"), "doc_id")
    failsLeakFree("SearchIndexStore.compact")(st.compact())
  }

  test("dedup index, corpus and Count-Min store faces: leak-free on " +
    "success and failure") {
    val dir = tmp("dedup")
    val st = index(dir)
    leakFree("DedupIndexStore.append")(
      st.append(docs(2 to 6), "doc_id", "text"))
    failsLeakFree("DedupIndexStore.append")(
      st.append(failing(docs(7 to 9)), "doc_id", "text"))
    leakFree("DedupIndexStore.retire")(
      st.retire(Seq(2L).toDF("doc_id"), "doc_id"))
    leakFree("DedupIndexStore.compact")(st.compact())
    corrupt(s"$dir/shingles")
    st.retire(Seq(3L).toDF("doc_id"), "doc_id")
    failsLeakFree("DedupIndexStore.compact")(st.compact())

    val pub = tmp("corpus")
    CorpusStore.write(spark, pub, docs(1 to 6).select("doc_id", "text"),
      "doc_id", "text", nShards = 2)
    leakFree("CorpusStore.retire")(CorpusStore.retire(spark, pub,
      Seq(1L).toDF("doc_id"), "doc_id", "text").collect())
    leakFree("CorpusStore.compact")(CorpusStore.compact(spark, pub))

    val items = (1 to 50).map(i => s"item${i % 7}").toDF("item")
    val cm = CmStore.build(spark, tmp("cm"), items, "item", depth = 4,
      width = 64)
    assert(leakFree("CmStore.append")(cm.append(items, "b1")))
    failsLeakFree("CmStore.append")(cm.append(failing(items, "item"), "b2"))
  }

  /** A manager holding a one-project workspace of two Python files. */
  private def workspace(): graft.serve.WorkspaceManager = {
    val ws = Files.createTempDirectory("graft-leak-ws")
    val proj = ws.resolve("svc")
    Files.createDirectories(proj.resolve(".git"))
    Files.writeString(proj.resolve("m.py"), "def first():\n    return 1\n")
    Files.writeString(proj.resolve("n.py"),
      "from m import first\n\ndef second():\n    return first()\n")
    val mgr = new graft.serve.WorkspaceManager(spark, tmp("ws-data"),
      new graft.serve.EventPublisher)
    mgr.getOrRegister(ws.toString)
    mgr
  }

  test("graph index: leak-free on success and failure") {
    val mgr = workspace()
    val state = mgr.list().head
    val p = state.projects.head
    leakFree("Indexer.indexTo")(graft.analyze.Indexer.indexTo(spark,
      p.projectPath, "svc", mgr.storeDirFor(state, p)))
    // the write fails after every checkpoint of the index is made
    val blocker = Files.createTempFile("graft-leak-blocker", "")
    failsLeakFree("Indexer.indexTo")(graft.analyze.Indexer.indexTo(spark,
      p.projectPath, "svc", s"$blocker/store"))
    mgr.shutdown()
  }

  test("watcher reindex batch: leak-free on success and failure") {
    val mgr = workspace()
    val state = mgr.list().head
    val p = state.projects.head
    val storeDir = mgr.storeDirFor(state, p)
    graft.analyze.Indexer.indexTo(spark, p.projectPath, "svc", storeDir)
    Files.writeString(Paths.get(p.projectPath, "m.py"),
      "def first():\n    return 2\n\ndef third():\n    return 3\n")
    val changes = Seq(("m.py", "modified")).toDF("changed_path", "change_type")
    leakFree("reindexBatch")(mgr.reindexBatch(state, p, changes))
    assert(GraphStore.read(spark, storeDir).definitions
      .where(col("name") === "third").count() == 1)
    // the batch parses the changed file before it reads the store
    Files.write(Paths.get(storeDir, "definition_nodes",
      "part-99999-corrupt.parquet"), "not a parquet file".getBytes)
    failsLeakFree("reindexBatch")(mgr.reindexBatch(state, p, changes))
    mgr.shutdown()
  }
}
