package perfbench

import org.apache.spark.sql.functions._

/** Checks that [[Main.digest]] depends on a frame's content only: the same
  * rows in another order or partitioning give the same digest, and one
  * changed value gives another. Writes `{"ok": ..., "digests": [...]}`. */
object SelfTest {
  def run(work: String, out: String): Unit = {
    val spark = Main.session(work)
    val base = spark.range(0, 5000, 1, 3).select(
      col("id"),
      (col("id") * 0.25).as("d"),
      concat(lit("s"), col("id").cast("string")).as("s"),
      array(col("id").cast("float"), lit(1.5f)).as("v"),
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id") % 7).as("maybe"),
      timestamp_micros(col("id") * 1000000L).as("ts"),
      (col("id") % 2 === 0).as("b"))
    val variants = Seq(
      base,
      base.orderBy(col("id").desc),
      base.repartition(7, col("s")),
      base.coalesce(1),
      base.sample(1.0).union(base.limit(0)))
    val digests = variants.map(Main.digest)
    val changed = Main.digest(base.withColumn("d",
      when(col("id") === 4321, lit(-1.0)).otherwise(col("d"))))
    val ok = digests.distinct.size == 1 && digests.head._1 == 5000L && changed != digests.head
    spark.stop()
    Json.write(out, Json.obj("ok" -> ok,
      "digests" -> digests.map { case (n, h) => s"$n:$h" },
      "changed" -> s"${changed._1}:${changed._2}"))
  }
}
