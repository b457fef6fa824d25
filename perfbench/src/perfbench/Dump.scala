package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Runs each lane once, writes its output as parquet under `dumpDir/<lane>`
  * and its oracle SQL to `dumpDir/oracle_sql.json`, for `confirm.py` to
  * compare against DuckDB. The digest is taken from the written files, so
  * it is the digest of exactly what DuckDB compares. */
object Dump {
  def run(spark: SparkSession, lanes: Seq[String], input: String,
      dumpDir: String): Map[String, Any] = {
    val digests = lanes.map { lane =>
      Main.deleteRecursive(Main.graftRoot)
      val out = s"$dumpDir/$lane"
      Lanes.lane(lane, spark, input)
        .write.mode("overwrite").parquet(out)
      val (n, h) = Main.digest(spark.read.parquet(out))
      lane -> Json.obj("rows" -> n, "hashsum" -> h.toString)
    }.toMap
    Json.write(s"$dumpDir/oracle_sql.json",
      lanes.flatMap(l => SparkEntry.oracleSql.get(l).map(l -> _)).toMap)
    Json.obj("digests" -> digests)
  }
}
