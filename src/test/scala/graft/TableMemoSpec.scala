package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.tbl

/** The session metadata memo behind `queries.tbl` (graft.sources.TableMemo):
  * a warm read runs no job, every read is a fresh Dataset, a rewritten file
  * is re-resolved, sessions never share an entry, and failures are never
  * memoized. Jobs are counted with a SparkListener around each call. */
class TableMemoSpec extends SparkTestBase {

  /** Spark jobs started while `body` runs, and its result. */
  private def jobs[A](body: => A): (Int, A) = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      org.apache.spark.graft.ListenerBus.drain(sc)
      (n.get(), a)
    } finally sc.removeSparkListener(l)
  }

  /** A fresh table directory holding a copy of the sf0.001 nation table. */
  private def nationDir(): Path = {
    val dir = Files.createTempDirectory("graft-memo")
    Files.copy(Paths.get(s"$sf0001/nation.parquet"),
      dir.resolve("nation.parquet"))
    dir
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a second tbl of the same table runs no Spark job") {
    val dir = nationDir().toString
    val (cold, _) = jobs(tbl(spark, dir, "nation"))
    assert(cold >= 1, "the first read infers the schema with a job")
    val (warm, df) = jobs(tbl(spark, dir, "nation"))
    assert(warm === 0, s"warm tbl ran $warm job(s)")
    assert(rows(df) === rows(spark.read.parquet(s"$dir/nation.parquet")))
  }

  test("tbl(t).join(tbl(t)) resolves df(col) references and matches the " +
      "unmemoized self-join") {
    val dir = nationDir().toString
    tbl(spark, dir, "nation")
    def selfJoin(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, a("n_regionkey") === b("n_regionkey") &&
          a("n_nationkey") < b("n_nationkey"))
        .select(a("n_name"), b("n_name"))
    val (n, a) = jobs(tbl(spark, dir, "nation"))
    val b = tbl(spark, dir, "nation")
    assert(n === 0)
    val raw = s"$dir/nation.parquet"
    val want = rows(selfJoin(spark.read.parquet(raw), spark.read.parquet(raw)))
    assert(want.nonEmpty)
    assert(rows(selfJoin(a, b)) === want)
  }

  test("rewriting the parquet returns the new schema and rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-memo-rewrite").toString
    val path = s"$dir/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .coalesce(1).write.parquet(path)
    assert(tbl(spark, dir, "t").columns.toSeq === Seq("k", "v"))
    assert(jobs(tbl(spark, dir, "t"))._1 === 0)
    Seq((3L, "c", 3.5)).toDF("k", "v", "w")
      .coalesce(1).write.mode("overwrite").parquet(path)
    val (n, df) = jobs(tbl(spark, dir, "t"))
    assert(n >= 1, "a rewritten table must be re-resolved")
    assert(df.columns.toSeq === Seq("k", "v", "w"))
    assert(rows(df) === Seq("[3,c,3.5]"))
  }

  test("two sessions never share an entry") {
    val dir = nationDir().toString
    tbl(spark, dir, "nation")
    val other: SparkSession = spark.newSession()
    val (n, df) = jobs(tbl(other, dir, "nation"))
    assert(n >= 1, "another session must resolve the table itself")
    assert(df.sparkSession eq other)
    assert(jobs(tbl(spark, dir, "nation"))._1 === 0)
    assert(rows(df) === rows(tbl(spark, dir, "nation")))
  }

  test("a read that throws leaves nothing memoized") {
    val dir = Files.createTempDirectory("graft-memo-bad")
    val file = dir.resolve("bad.parquet")
    Files.write(file, "not a parquet file".getBytes("UTF-8"))
    intercept[Exception](tbl(spark, dir.toString, "bad"))
    val (n, _) = jobs(intercept[Exception](tbl(spark, dir.toString, "bad")))
    assert(n >= 1, "the failed read must be retried, not served")
    Files.copy(Paths.get(s"$sf0001/nation.parquet"), file,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(tbl(spark, dir.toString, "bad").count() === 25L)
  }
}
