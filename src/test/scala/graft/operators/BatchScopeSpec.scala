package graft.operators

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** BatchScope: the one owner of a batch's frames, operator fragments and
  * planning mode. Every free runs at close, on success and on failure, and
  * only frames the scope made are freed.
  */
class BatchScopeSpec extends SparkSpec {
  import spark.implicits._

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private val boom = udf { (x: Long) =>
    if (x >= 0) throw new IllegalStateException("injected failure"); x
  }

  test("stage persists outside micro-batch mode and checkpoints inside it; " +
    "close frees both and drains the scope's fragments") {
    val before = persisted
    val reg = TransientCache.registeredCount
    val big = (1 to 100).toDF("x")
    val (persistedStage, frag) = Using.resource(BatchScope()) { scope =>
      assert(!scope.isMicroBatch)
      val p = scope.stage(big.select(col("x") * 2 as "y"))
      assert(p.storageLevel == StorageLevel.MEMORY_AND_DISK)
      p.count()
      val f = TransientCache.cache(big.select(col("x") + 1 as "z"))
      f.count()
      (p, f)
    }
    assert(persistedStage.storageLevel == StorageLevel.NONE)
    assert(frag.storageLevel == StorageLevel.NONE, "scope fragment drained")
    Using.resource(BatchScope(big, 256L << 20)) { scope =>
      assert(scope.isMicroBatch)
      val cp = scope.stage(big.select(col("x") * 3 as "y"))
      assert(cp.queryExecution.analyzed.isInstanceOf[
        org.apache.spark.sql.execution.LogicalRDD])
      assert(persisted != before, "the checkpoint pins its blocks while open")
      assert(cp.count() == 100)
    }
    assert((persisted -- before).isEmpty)
    assert(TransientCache.registeredCount == reg)
  }

  test("a checkpoint whose evaluation throws leaves nothing pinned") {
    val before = persisted
    val failing = spark.range(10).select(boom(col("id")).as("id"))
    intercept[Exception] {
      Using.resource(BatchScope()) { scope => scope.checkpoint(failing) }
    }
    assert((persisted -- before).isEmpty)
  }

  test("release frees the owned frames except those kept; close frees the " +
    "rest") {
    Using.resource(BatchScope()) { scope =>
      val a = scope.checkpoint(spark.range(5).toDF())
      val b = scope.persist(spark.range(6).toDF())
      b.count()
      val kept = scope.checkpoint(spark.range(7).toDF())
      scope.release(keep = kept)
      assert(b.storageLevel == StorageLevel.NONE)
      assert(intercept[Exception](a.count()) != null,
        "a freed checkpoint cannot be recomputed")
      assert(kept.count() == 7)
    }
  }

  test("a caller's checkpointed input is never freed by the scope, on " +
    "success or failure") {
    val input = spark.range(50).toDF("x").localCheckpoint(true)
    intercept[IllegalStateException] {
      Using.resource(BatchScope()) { scope =>
        val s1 = scope.stage(input.select(col("x") + 1 as "x"))
        s1.count()
        scope.checkpoint(s1.select(col("x") * 2 as "x"))
        throw new IllegalStateException("injected failure")
      }
    }
    assert(input.count() == 50)
  }

  test("an operator's loop checkpoints that its lazy result reads belong " +
    "to the open scope; a self-contained operator frees its own") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val before = persisted
    Using.resource(BatchScope()) { _ =>
      // driverMaxEdges = 0 forces the distributed label/star loops
      assert(graft.pipeline.Dedup.clusterKeepers(pairs, driverMaxEdges = 0L)
        .count() == 5)
      assert(graft.pipeline.Dedup.connectedComponentsStar(pairs,
        driverMaxEdges = 0L).count() == 5)
    }
    graft.pipeline.Dsir.fitModelArray(
      Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("id", "text"),
      "id", "text", col("id") === 1L, buckets = 16)
    assert((persisted -- before).isEmpty)
  }

  test("TransientCache scopes are opened and drained only by BatchScope") {
    val call = """TransientCache\s*\.\s*(beginScope|drainScope)\s*\(""".r
    // the primitives' own file and spec aside
    val allowed = Set("BatchScope.scala", "TransientCache.scala",
      "TransientCacheSpec.scala")
    val sites = for {
      root <- Seq("src/main", "src/test")
      p <- {
        val s = Files.walk(Paths.get(root))
        try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
        finally s.close()
      }
      if !allowed(p.getFileName.toString)
      m <- call.findAllMatchIn(Files.readString(p))
    } yield s"$p: ${m.group(1)}"
    assert(sites.isEmpty, sites.mkString("\n"))
  }
}
