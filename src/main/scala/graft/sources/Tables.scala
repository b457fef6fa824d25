package graft.sources

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Typed loaders for the test corpus (TESTDATA.md).
  *
  * Mirrors the role of reader's per-source schema adapters
  * (reference: sources/postgres/snapshot.go, lib/mysql/schema.go): one place
  * that knows the physical layout and logical type mapping so every operator
  * downstream sees clean Spark types. A source table is described once and
  * then paged through: every load goes through [[read]], which infers a
  * table's parquet schema once and plans each later read of the unchanged
  * table with that schema given, so only the first read pays Spark's
  * one-task schema-inference job. All loads are plain parquet scans —
  * Catalyst pushes filters/projections into them (verified via
  * PushedFilters/ReadSchema in the physical plan).
  */
object Tables {
  private def p(dir: String, name: String) = s"$dir/$name.parquet"

  def region(s: SparkSession, dir: String): DataFrame   = read(s, p(dir, "region"))
  def nation(s: SparkSession, dir: String): DataFrame   = read(s, p(dir, "nation"))
  def customer(s: SparkSession, dir: String): DataFrame = read(s, p(dir, "customer"))
  def supplier(s: SparkSession, dir: String): DataFrame = read(s, p(dir, "supplier"))
  def part(s: SparkSession, dir: String): DataFrame     = read(s, p(dir, "part"))
  def orders(s: SparkSession, dir: String): DataFrame   = read(s, p(dir, "orders"))
  def lineitem(s: SparkSession, dir: String): DataFrame = read(s, p(dir, "lineitem"))
  def documents(s: SparkSession, dir: String): DataFrame  = read(s, p(dir, "documents"))
  def embeddings(s: SparkSession, dir: String): DataFrame = read(s, p(dir, "embeddings"))

  /** (qualified path, session parquet conf) -> (file listing, schema). */
  private val schemas =
    new ConcurrentHashMap[(String, Seq[(String, String)]), (Seq[(String, Long, Long)], StructType)]()

  /** The parquet table at `path`, its schema inferred by Spark
    * (`spark.read.parquet(path).schema`) on the first read and given to
    * every later read (`spark.read.schema(cached).parquet(path)`).
    *
    * A cached schema is served only for the same qualified path, the same
    * session `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` values
    * (they change what inference returns: [[events]] turns on
    * `nanosAsLong`) and the same listing — (relative name, length, mtime)
    * of every file under the path. A rewritten table lists differently and
    * is inferred again, replacing its entry, so the cache holds one entry
    * per (path, conf). The listing recurses with `listStatus`:
    * `listFiles`/`listLocatedStatus` would build a `LocatedFileStatus` per
    * file, which on Hadoop's raw local file system forks `ls -ld`. */
  def read(s: SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    val qualified = fs.makeQualified(root)
    val conf = s.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted
    val key = (qualified.toString, conf)
    // a missing path lists as empty, which no inferred entry has: Spark
    // then reports the path
    val files = try listing(fs, qualified) catch { case _: FileNotFoundException => Nil }
    Option(schemas.get(key)) match {
      case Some((`files`, schema)) => s.read.schema(schema).parquet(path)
      case _ =>
        val df = s.read.parquet(path)
        schemas.put(key, (files, df.schema))
        df
    }
  }

  /** (name relative to `root`, length, mtime) of every file under `root`,
    * or of `root` itself when it is a file; Hadoop's checksum file system
    * hides its `.crc` sidecars. */
  private def listing(fs: FileSystem, root: Path): Seq[(String, Long, Long)] = {
    val prefix = root.toString.length
    def walk(dir: Path): Seq[(String, Long, Long)] = fs.listStatus(dir).toSeq.flatMap { st =>
      if (st.isDirectory) walk(st.getPath)
      else Seq((st.getPath.toString.drop(prefix), st.getLen, st.getModificationTime))
    }
    walk(root).sorted
  }

  /** The physical type of `events.ts` varies by testdata generation:
    * parquet TIMESTAMP(NANOS) — which Spark surfaces as a raw LONG under
    * `spark.sql.legacy.parquet.nanosAsLong` — or plain TIMESTAMP /
    * TIMESTAMP_NTZ at microsecond precision. These two helpers map ANY of
    * those physical shapes onto one canonical view so every operator
    * downstream is schema-generation-agnostic. Sessions pin
    * `spark.sql.session.timeZone=UTC`, so the NTZ→timestamp cast is exact
    * and the values match DuckDB's `epoch_ns(ts)` / `epoch_us(ts)` on the
    * same file. */
  def tsNanos(dt: DataType): Column = dt match {
    case LongType                         => col("ts")
    case TimestampType | TimestampNTZType => unix_micros(col("ts").cast("timestamp")) * 1000L
    case other => throw new IllegalArgumentException(s"unsupported events.ts type: $other")
  }

  /** Raw `ts` → TIMESTAMP at microsecond precision (for event-time
    * streaming: watermarks, windows, interval joins). */
  def tsTimestamp(dt: DataType): Column = dt match {
    case LongType                         => timestamp_micros(expr("ts div 1000"))
    case TimestampType | TimestampNTZType => col("ts").cast("timestamp")
    case other => throw new IllegalArgumentException(s"unsupported events.ts type: $other")
  }

  /** Canonical events view: the raw epoch-nanos long (`ts_ns`, in the
    * physical column position of `ts`) and a microsecond TIMESTAMP_NTZ
    * (`ts_ntz`) — the same µs truncation DuckDB applies reading the file,
    * so oracle SQL can use `CAST(ts AS TIMESTAMP)` for bit-identical
    * values whichever physical type this generation carries.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(s, p(dir, "events"))
    raw.withColumn("ts", tsNanos(raw.schema("ts").dataType))
      .withColumnRenamed("ts", "ts_ns")
      .withColumn("ts_ntz", expr("cast(timestamp_micros(ts_ns div 1000) as timestamp_ntz)"))
  }
}
