package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Engine, QueryDef}
import graft.model.JobSpec
import graft.operators.PipeTransform

/** Reference-parity pipeline operators exercised as oracle-checked
  * queries (SURVEY.md §2.3–2.4): the external-command pipe transform
  * T1 and the JobSpec envelope codec F3/F4, driven over the
  * `documents` fixture so DuckDB can recompute the expected output.
  */
object PipelineQueries {

  private def T(s: SparkSession, dir: String) = Engine.Tables(s, dir)

  /** One temp shard dir per sfDir, cleaned up at JVM exit. */
  private val p05Dirs =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def p05TmpDir(dir: String): String =
    p05Dirs.getOrElseUpdate(dir, {
      val f = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-tar-p05-${Integer.toHexString(dir.hashCode)}")
      f.mkdirs()
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        val fs = Option(f.listFiles()).getOrElse(Array.empty)
        fs.foreach(_.delete())
        f.delete()
        ()
      }))
      f.toString
    })

  /** documents.text staged as binary content keyed by doc_id.
    * The fixture parquet is one tiny file -> one scan partition; the
    * pipe transform is process-spawn bound, so spread rows across all
    * task slots first (at real scale the input arrives pre-split).
    */
  private def docsAsFiles(s: SparkSession, dir: String) =
    Engine.widenIfNarrow(T(s, dir).documents.select(
      col("doc_id").cast("string").as("key"),
      encode(col("text"), "UTF-8").as("content")))

  val defs: ListMap[String, QueryDef] = ListMap(
    // ------------------------------------------------------------------
    "p01_pipe_identity" -> QueryDef(
      fn = { (s, dir) =>
        // T1 with the reference's shipped default COMMAND="cp"
        // (user-data.sh:4): identity transform; round-tripped content
        // must match the source text exactly.
        PipeTransform.transform(docsAsFiles(s, dir), Seq("cp"))
          .select(col("key").cast("long").as("doc_id"),
            length(decode(col("output"), "UTF-8")).as("n_chars_rt"),
            col("exitCode").as("exit_code"))
      },
      oracle = Some("""
        SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars_rt,
               0 AS exit_code
        FROM documents"""),
      doc = "External-command pipe (cp identity) — reference T1."),

    // ------------------------------------------------------------------
    "p02_pipe_command" -> QueryDef(
      fn = { (s, dir) =>
        // Non-identity command: byte count via the shell, reading the
        // staged input file and writing the staged output file —
        // exactly the reference's `command <in> <out>` contract.
        val wc = Seq("sh", "-c", """wc -c < "$1" > "$2"""", "graft-wc")
        PipeTransform.transform(docsAsFiles(s, dir), wc)
          .select(col("key").cast("long").as("doc_id"),
            trim(decode(col("output"), "UTF-8")).cast("long").as("n_bytes"))
      },
      oracle = Some("""
        SELECT doc_id, octet_length(encode(text)) AS n_bytes
        FROM documents"""),
      doc = "External-command pipe (wc -c) with recomputable oracle."),

    // ------------------------------------------------------------------
    "p03_job_envelope" -> QueryDef(
      fn = { (s, dir) =>
        // F3/F4 codec fidelity: serialize each doc as the reference's
        // positional JSON envelope, parse it back, dispatch-filter.
        val env = T(s, dir).documents.select(
          JobSpec.toEnvelope(
            lit("process"), lit("bucket"), lit("input/"), lit("output/"),
            col("doc_id").cast("string")).as("envelope"))
        val parsed = env.select(JobSpec.fromEnvelope(col("envelope")).as("job"))
          .select("job.*")
        val (ok, _) = JobSpec.dispatch(parsed)
        ok.select(col("fileName").cast("long").as("doc_id"),
          col("action"), col("outputPrefix").as("output_prefix"))
      },
      oracle = Some("""
        SELECT doc_id, 'process' AS action, 'output/' AS output_prefix
        FROM documents"""),
      doc = "JobSpec positional-JSON envelope round-trip + dispatch."),

    // ------------------------------------------------------------------
    "p04_pipe_lines" -> QueryDef(
      fn = { (s, dir) =>
        // The AMORTIZED pipe path (one process per PARTITION, lines
        // streamed through stdin/stdout) — the shape that replaces
        // p01/p02's process-per-record spawn at 10^9 records. Safe
        // here: fixture text is newline-free printable ASCII, so
        // line-oriented framing is lossless and `tr` is byte-exact.
        import s.implicits._
        val lines = T(s, dir).documents.select(col("text")).as[String]
          .repartition(s.sparkContext.defaultParallelism)
        PipeTransform.transformLines(lines, Seq("tr", "a-z", "A-Z"))
          .toDF("line")
      },
      oracle = Some("SELECT upper(text) AS line FROM documents"),
      doc = "Line-oriented pipe (process per partition, tr upper)."),

    // ------------------------------------------------------------------
    "p05_tar_shards" -> QueryDef(
      fn = { (s, dir) =>
        // WebDataset round-trip: the corpus packs into 8 USTAR shards
        // (executor-side, one tar per task, deterministic bytes),
        // reads back shard-parallel, and the emitted metadata is
        // hash-checked against the source table — proving the
        // container held every member byte. The shard key is the
        // md5-free doc_id mod (shard sizing is the caller's knob;
        // c06 is the content-hashed variant). Scale: one shuffle to
        // group by shard in, zero shuffles out.
        // Deterministic per-sfDir temp location: re-invocations
        // overwrite the same 8 shard files (writeShards creates with
        // overwrite=true) instead of leaking a fresh corpus-sized dir
        // each call, and a one-time shutdown hook removes it at JVM
        // exit.
        val tmp = p05TmpDir(dir)
        val src = T(s, dir).documents
          .select(
            concat(lit("doc_"), col("doc_id"), lit(".txt")).as("name"),
            encode(col("text"), "UTF-8").as("bytes"),
            pmod(col("doc_id"), lit(8)).cast("string").as("shard"))
        graft.sources.TarShards
          .writeShards(src, "name", "bytes", "shard", tmp).count()
        graft.sources.TarShards.readShards(s, tmp)
          .select(
            regexp_extract(col("name"), "doc_(\\d+)\\.txt", 1)
              .cast("long").as("doc_id"),
            col("shard").cast("int").as("shard"),
            octet_length(col("content")).as("n_bytes"))
      },
      oracle = Some("""
        SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
               CAST(octet_length(encode(text)) AS INT) AS n_bytes
        FROM documents"""),
      doc = "WebDataset-style tar shard round-trip (pure-JVM USTAR " +
        "pack/unpack, shard-per-task, hash-checked vs source)."),

    // ------------------------------------------------------------------
    "p06_tar_index" -> QueryDef(
      fn = { (s, dir) =>
        // The shard INDEX (random-access sidecar) hash-checked down
        // to the byte offset: USTAR layout is deterministic (members
        // name-sorted per shard, 512-byte header + payload padded to
        // 512), so the oracle reconstructs every member's offset from
        // the documents table alone with a window sum — a green hash
        // here pins the binary container layout cross-engine, which
        // is exactly the guarantee readMembersByName's seeks rely on.
        // Scale: the index read opens sidecars only (never a tar);
        // one shuffle to group by shard on write, none on read.
        val tmp = p05TmpDir(dir)
        val src = T(s, dir).documents
          .select(
            concat(lit("doc_"), col("doc_id"), lit(".txt")).as("name"),
            encode(col("text"), "UTF-8").as("bytes"),
            pmod(col("doc_id"), lit(8)).cast("string").as("shard"))
        graft.sources.TarShards
          .writeShards(src, "name", "bytes", "shard", tmp).count()
        graft.sources.TarShards.readIndex(s, tmp)
          .select(
            regexp_extract(col("name"), "doc_(\\d+)\\.txt", 1)
              .cast("long").as("doc_id"),
            col("shard").cast("int").as("shard"),
            col("offset").as("member_offset"),
            col("size").as("n_bytes"))
      },
      oracle = Some("""
        WITH m AS (
          SELECT doc_id,
                 CAST(doc_id % 8 AS INT) AS shard,
                 'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS name,
                 CAST(octet_length(encode(text)) AS BIGINT) AS sz
          FROM documents)
        SELECT doc_id, shard,
               CAST(coalesce(sum(512 + ((sz + 511) // 512) * 512) OVER (
                 PARTITION BY shard ORDER BY name
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) AS member_offset,
               sz AS n_bytes
        FROM m"""),
      doc = "Tar shard index sidecar hash-checked to the byte: the " +
        "oracle reconstructs every member's archive offset from the " +
        "source table (name-sorted members, 512-byte USTAR blocks)."))
}
