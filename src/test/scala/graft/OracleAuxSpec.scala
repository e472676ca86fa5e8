package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.queries.OracleAuxDir

/** The replay gates' side tables live under one directory of the checkout
  * that runs them ([[graft.queries.OracleAuxDir]]): every side-table path
  * the oracle SQL reads starts with it, and running a gate writes the
  * table that its SQL, rewritten to the run's scale, reads. */
class OracleAuxSpec extends SparkTestBase {

  private val AuxPath = """'([^']*oracle_aux[^']*)'""".r

  private def auxPaths(sql: String): Seq[String] =
    AuxPath.findAllMatchIn(sql).map(_.group(1)).toSeq

  test("OracleAuxDir is target/oracle_aux of the working directory") {
    assert(OracleAuxDir ===
      Paths.get("").toAbsolutePath.resolve("target/oracle_aux").toString + "/")
  }

  test("every oracle_aux path in the oracle SQL starts with OracleAuxDir") {
    val paths = SparkEntry.oracleSql.values.flatMap(auxPaths).toSeq
    assert(paths.nonEmpty)
    val stray = paths.filterNot(_.startsWith(OracleAuxDir))
    assert(stray.isEmpty, stray.mkString("\n"))
  }

  test("each side-table gate writes, under OracleAuxDir, the table its SQL reads") {
    val gates = SparkEntry.oracleSql.collect {
      case (name, sql) if auxPaths(sql).nonEmpty =>
        name -> auxPaths(Verify.atScale(sql, "sf0.001"))
    }
    assert(gates.nonEmpty)
    for ((name, paths) <- gates.toSeq.sortBy(_._1)) {
      val started = System.currentTimeMillis()
      SparkEntry.queries(name)(spark, sf0001).collect()
      for (p <- paths) {
        val dir = Paths.get(p.stripSuffix("/*.parquet"))
        assert(dir.toString.startsWith(OracleAuxDir) && p.endsWith("/*.parquet"),
          s"$name reads $p")
        val fresh = Files.isDirectory(dir) && Files.list(dir).iterator.asScala
          .exists(f => f.toString.endsWith(".parquet") &&
            Files.getLastModifiedTime(f).toMillis >= started - 1000)
        assert(fresh, s"$name did not write the side table its SQL reads: $dir")
      }
    }
  }
}
