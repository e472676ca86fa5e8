package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.OpCaches

/** graft's one persist lifecycle: registration semantics, the bench's
  * per-sample cold hook, the LRU lifetime bound that keeps a long-lived
  * session from pinning frames forever, file-snapshot validation of hits,
  * the scoped form, and that every persist of a gate is released.
  */
class OpCachesSpec extends SparkTestBase {
  import spark.implicits._

  private def freshFrame(tag: Int) =
    (1 to 100).map(i => (i.toLong, i * tag)).toDF("id", s"v")
      .filter(col("id") > lit(tag)) // distinct plan per tag

  test("cached() persists, same-plan re-registration returns the live " +
      "frame (hit), and clear() unpersists everything") {
    OpCaches.clear()
    val h0 = OpCaches.hits.get()
    val a = OpCaches.cached(freshFrame(1))
    assert(a.storageLevel.useMemory, "cached() must persist the frame")
    assert(OpCaches.frameCount >= 1)
    // same analyzed plan → the registered frame is served, counted as hit
    val b = OpCaches.cached(freshFrame(1))
    assert(b eq a, "same-plan registration must return the live frame")
    assert(OpCaches.hits.get() === h0 + 1)
    OpCaches.clear()
    assert(OpCaches.frameCount === 0)
    assert(a.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
      "clear() must unpersist registered frames (the bench cold-sample " +
        "hook: a timed sample may never read a warmup-built cache)")
    // correctness is unaffected: the unpersisted plan lazily recomputes
    assert(b.count() === 99)
  }

  test("LRU bound: registering more frames than the cap evicts the " +
      "eldest instead of accumulating pinned storage") {
    OpCaches.clear()
    val first = OpCaches.cached(freshFrame(101))
    (102 to 115).foreach(t => OpCaches.cached(freshFrame(t)))
    assert(OpCaches.frameCount <= 8,
      s"registry must stay bounded, got ${OpCaches.frameCount}")
    assert(first.storageLevel ===
      org.apache.spark.storage.StorageLevel.NONE,
      "the eldest frame must have been unpersisted on overflow")
    OpCaches.clear()
  }

  test("a query path through the registry computes identical results " +
      "cold and warm (eviction is never a correctness event)") {
    OpCaches.clear()
    val input = (1 to 50).map(i => ("g" + (i % 3), i.toLong))
      .toDF("g", "v")
    def q() = graft.operators.Positional.groupedPrefixSum(
      input, Seq("g"), Seq(col("v")), col("v"), "run")
      .orderBy(col("g"), col("v")).collect().toSeq
    val cold = q()
    val warm = q()
    OpCaches.clear()
    val coldAgain = q()
    assert(cold === warm && warm === coldAgain)
    OpCaches.clear()
  }

  test("a registered frame over rewritten parquet files is replaced, not " +
      "served stale") {
    OpCaches.clear()
    val tmp = Files.createTempDirectory("graft-opcaches")
    val path = tmp.resolve("t.parquet")
    def write(to: java.nio.file.Path, rows: Seq[(Long, String)]): Unit =
      rows.toDF("k", "v").coalesce(1).write.mode("overwrite")
        .parquet(to.toString)
    def registered() = OpCaches.cached(graft.sources.TableMemo
        .read(spark, path.toString).filter(col("k") > 0))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    write(path, Seq((1L, "a"), (2L, "b")))
    assert(registered() === Set((1L, "a"), (2L, "b")))
    val h0 = OpCaches.hits.get()
    assert(registered() === Set((1L, "a"), (2L, "b")))
    assert(OpCaches.hits.get() === h0 + 1, "unchanged files must still hit")
    // Spark's own overwrite (it also refreshes the cached file index)
    write(path, Seq((3L, "c")))
    assert(registered() === Set((3L, "c")))
    // files replaced by another writer: Spark is told nothing
    val other = tmp.resolve("other.parquet")
    write(other, Seq((4L, "d")))
    Files.list(path).iterator.asScala.foreach(Files.delete)
    Files.list(other).iterator.asScala
      .foreach(f => Files.move(f, path.resolve(f.getFileName)))
    assert(registered() === Set((4L, "d")))
    assert(OpCaches.hits.get() === h0 + 1, "rewritten files must miss")
    OpCaches.clear()
  }

  test("withPersisted persists for its body only, also when the body " +
      "throws, and never releases a frame it did not persist") {
    OpCaches.clear()
    val fresh = freshFrame(201)
    assert(OpCaches.withPersisted(fresh)(_.storageLevel).useMemory)
    assert(fresh.storageLevel === StorageLevel.NONE)
    intercept[IllegalStateException](
      OpCaches.withPersisted(fresh)(_ => throw new IllegalStateException))
    assert(fresh.storageLevel === StorageLevel.NONE)
    // a scope over the plan of a registered frame leaves it registered
    val registered = OpCaches.cached(freshFrame(202))
    assert(OpCaches.withPersisted(freshFrame(202))(_.count()) === 0)
    assert(registered.storageLevel.useMemory,
      "a scoped persist evicted a registry frame with the same plan")
    OpCaches.clear()
  }

  for (name <- Seq("q_pipe_jaccard_block", "q_pipe_jaccard_freq",
      "q_pipe_dedup_incr", "q_pipe_winnow_spans", "q_pipe_dup_groups",
      "q_sim_knn_pq", "q_sim_knn_ivf_learned", "q_sim_knn_ivfpq",
      "q_sim_semdedup", "q_sim_semdedup_auto"))
    test(s"$name: every RDD it persists is released by OpCaches.clear()") {
      val sc = spark.sparkContext
      OpCaches.clear()
      val before = sc.getPersistentRDDs.keySet
      SparkEntry.queries(name)(spark, sf0001).collect()
      OpCaches.clear()
      // ids, not counts: the context cleaner may drop an older RDD meanwhile
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
        s"$name left persisted RDDs behind")
    }

  test("no code in src/main persists a frame outside OpCaches") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), "run from the repository root")
    val hits = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString != "OpCaches.scala")
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(".persist(") => s"$p:${i + 1}"
      })
      .toList
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
