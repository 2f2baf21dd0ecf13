package graft.sinks

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/** Deterministic-name output sink (S6, reference GetJobs.py:57-60):
  * each record is published as `<outDir>/<key><ext>` — the naming
  * contract `f ↦ f + ext` the reference exposes to its users
  * (README.md:124).
  *
  * Spark's own writers randomize part-file names, so exact naming
  * needs a per-row writer inside the task. Idempotence under task
  * retries (the at-least-once story, SURVEY.md §1.4): write to a
  * task-unique temp file, then rename — a duplicate execution
  * overwrites with identical bytes instead of interleaving, upgrading
  * the reference's mid-write clobber race to last-writer-wins.
  *
  * Filesystem access goes through the Hadoop `FileSystem` API (the
  * reference's output contract is an object-store PUT), so `outDir`
  * may be any supported URI — `file:///`, `hdfs://`, `s3a://` — not
  * just a local path. The driver's Hadoop conf is shipped to
  * executors as a plain property list (public-API-only equivalent of
  * SerializableConfiguration), so credentials/endpoint settings
  * apply on the task side too.
  *
  * Scale note: one output object per record is the REFERENCE's
  * contract (object-store fan-out, no shuffle, embarrassingly
  * parallel); when exact names are not contractual, callers should
  * prefer `df.write.parquet` and let the committer handle naming.
  */
object NamedSink {

  /** One row per published result: `published` iff the row succeeded
    * and its file is in place.
    */
  private val publishedSchema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("exitCode", IntegerType),
    StructField("error", StringType),
    StructField("published", BooleanType, nullable = false)))

  /** Publish every successful row of a `PipeTransform` result as
    * `<outDir>/<key><ext>`, inside the task that ran the command.
    * Success is exit 0 AND bytes to publish (reference GetJobs.py:54-60):
    * a null output row from any producer is a failure, never silently
    * dropped. Lazy and narrow — nothing runs until the caller's action,
    * and the output bytes never leave the task. Every input row comes
    * back as (key, exitCode, error, published), so one caller action
    * can quarantine the `!published` rows and count both sides.
    */
  def publish(results: DataFrame, outDir: String, ext: String): DataFrame = {
    val driverConf = results.sparkSession.sessionState.newHadoopConf()
    // Serialize the conf as (key, value) pairs: Hadoop Configuration
    // itself is not java-serializable.
    val confProps: Array[(String, String)] =
      driverConf.iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
    val dir = new Path(outDir)
    dir.getFileSystem(driverConf).mkdirs(dir)
    results.select("key", "output", "exitCode", "error").mapPartitions {
      (it: Iterator[Row]) =>
        val d = new Path(outDir)
        lazy val conf = {
          val c = new Configuration(false)
          confProps.foreach { case (k, v) => c.set(k, v) }
          c
        }
        lazy val fs = {
          val f = d.getFileSystem(conf)
          // LocalFileSystem is checksummed by default and would strew
          // .crc sidecars next to every published object
          f.setWriteChecksum(false)
          f.setVerifyChecksum(false)
          f
        }
        it.map { row =>
          val key = row.getString(0)
          val ok = !row.isNullAt(1) && !row.isNullAt(2) && row.getInt(2) == 0
          if (ok) writeAtomic(fs, conf, d, sanitize(key) + ext,
            row.getAs[Array[Byte]](1))
          Row(key, row.get(2), row.getString(3), ok)
        }
    }(Encoders.row(publishedSchema))
  }

  /** The reference stages/publishes by raw fileName, allowing path
    * traversal via keys containing separators; we percent-encode the
    * separators (and every char that is URI-special to Hadoop `Path`,
    * plus the escape char itself) — unlike a plain
    * replace-with-underscore, encoding is injective, so distinct keys
    * can never collide onto one output file.
    */
  private[graft] def sanitize(key: String): String = {
    val sb = new StringBuilder(key.length)
    key.foreach {
      case '%'  => sb.append("%25")
      case '/'  => sb.append("%2F")
      case '\\' => sb.append("%5C")
      case ':'  => sb.append("%3A")
      case '#'  => sb.append("%23")
      case '?'  => sb.append("%3F")
      case c    => sb.append(c)
    }
    sb.toString
  }

  /** Create under a task-unique temp name, then atomically
    * rename-with-overwrite into place (graft.AtomicFiles — one
    * metadata op on HDFS, POSIX rename(2) on the local FS): a
    * duplicate/zombie execution overwrites with identical bytes via
    * last-writer-wins, never interleaves, and a reader never sees a
    * missing or half-replaced destination. On object stores rename is
    * copy+delete and the PUT itself is atomic.
    */
  private def writeAtomic(fs: FileSystem, conf: Configuration,
      dir: Path, name: String, bytes: Array[Byte]): Unit = {
    val tmp = new Path(dir,
      s".$name.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val dest = new Path(dir, name)
    var renamed = false
    try {
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      graft.FaultPoints.reach("NamedSink.tmp")
      graft.AtomicFiles.renameOverwrite(fs, conf, tmp, dest)
      renamed = true
    } finally {
      if (!renamed) fs.delete(tmp, false)
      ()
    }
  }
}
