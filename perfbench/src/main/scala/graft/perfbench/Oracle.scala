package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Helper for perfbench/oracle_check.py, which cross-checks the frozen
  * query digests against the DuckDB oracle:
  *
  *   Oracle sql    --queries a,b --out FILE   SparkEntry.oracleSql of each query
  *   Oracle digest --dir DIR --out FILE       Digest of every DIR/<query>.parquet
  *
  * Both write one JSON object keyed by short query name. */
object Oracle {
  def main(argv: Array[String]): Unit = {
    val args = argv.drop(1).grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val out = argv.head match {
      case "sql" =>
        val sql = graft.SparkEntry.oracleSql
        args("queries").split(",").toSeq.map { q =>
          q -> sql.collectFirst { case (n, s) if n.takeWhile(_ != '_') == q => Json.str(s) }.getOrElse("null")
        }
      case "digest" =>
        val spark = SparkSession.builder().master("local[2]")
          .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC").getOrCreate()
        try Files.list(Paths.get(args("dir"))).toArray.map(_.toString).sorted.toSeq
          .filter(_.endsWith(".parquet")).map { p =>
            Paths.get(p).getFileName.toString.stripSuffix(".parquet") -> Digest.of(spark.read.parquet(p)).json
          }
        finally spark.stop()
    }
    Files.writeString(Paths.get(args("out")), out.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}\n"))
  }
}
