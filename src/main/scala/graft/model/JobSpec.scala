package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The job/task descriptor — the reference's entire "IR".
  *
  * The reference encodes one job per input object as a 5-element
  * positional JSON array `["process", bucket, inputPrefix,
  * outputPrefix, fileName]` (reference SendJobs.py:31, parsed
  * positionally at GetJobs.py:27-34 with no validation). We keep the
  * positional-array wire format for fidelity but carry jobs as a typed
  * Dataset[JobSpec]; malformed envelopes parse to null fields and are
  * routed to quarantine instead of killing the worker (the reference's
  * uncaught-exception behavior, SURVEY.md §1.3, is a defect we fix).
  */
final case class JobSpec(
    action: String,
    bucket: String,
    inputPrefix: String,
    outputPrefix: String,
    fileName: String)

object JobSpec {

  val schema: StructType = StructType(Seq(
    StructField("action", StringType),
    StructField("bucket", StringType),
    StructField("inputPrefix", StringType),
    StructField("outputPrefix", StringType),
    StructField("fileName", StringType)))

  /** Serialize JobSpec columns to the reference's positional JSON
    * array envelope (F3, reference SendJobs.py:31).
    */
  def toEnvelope(
      action: Column, bucket: Column, inputPrefix: Column,
      outputPrefix: Column, fileName: Column): Column =
    to_json(array(action, bucket, inputPrefix, outputPrefix, fileName))

  /** Parse the positional envelope back into struct fields (F4,
    * reference GetJobs.py:27-34). Malformed JSON → null fields.
    */
  def fromEnvelope(envelope: Column): Column = {
    val arr = from_json(envelope, ArrayType(StringType))
    // get() (not getItem): under ANSI mode a short envelope must parse
    // to null fields for quarantine, not throw mid-stage — the
    // reference dies on these (GetJobs.py:27, uncaught).
    struct(
      get(arr, lit(0)).as("action"),
      get(arr, lit(1)).as("bucket"),
      get(arr, lit(2)).as("inputPrefix"),
      get(arr, lit(3)).as("outputPrefix"),
      get(arr, lit(4)).as("fileName"))
  }

  /** Never-null dispatch predicate over a parsed job row: a `process`
    * action that names a file.
    */
  val dispatchable: Column = coalesce(
    col("action") === lit("process") && col("fileName").isNotNull,
    lit(false))

  /** Split a parsed job stream into (dispatchable, quarantined).
    * The reference's dispatch filter (P1, GetJobs.py:29-30) silently
    * skips-and-never-acks unknown actions — an unbounded-redelivery
    * defect; we route them to an explicit quarantine branch.
    */
  def dispatch(jobs: DataFrame): (DataFrame, DataFrame) =
    (jobs.filter(dispatchable), jobs.filter(!dispatchable))

  /** Is this envelope fileName safe to resolve under the input
    * directory? The reference stages by RAW fileName
    * (GetJobs.py:44,51 — `workDir + '/' + fileName`), so a message
    * carrying `../../etc/passwd` reads an arbitrary host file and
    * publishes it to the output prefix. We refuse: no absolute paths,
    * no `..` segments, no backslashes/NULs (Windows-separator and
    * C-string smuggling), no `:` before the first `/` (Hadoop `new
    * Path(child)` reads a scheme ONLY from text preceding the first
    * slash, so `s3:…` smuggling needs a first-segment colon; a colon
    * in any LATER segment — e.g. ISO-timestamp names like
    * `logs/2024-01-01T12:00:00.json` — is path-inert, and the
    * reference processes such names, so quarantining them would be a
    * silent divergence).
    * Relative subpaths (`sub/dir/f.csv`) stay allowed — prefixes are
    * part of the reference's naming contract. Callers route unsafe
    * names to quarantine (SURVEY §1.3), never throw mid-stage.
    */
  def pathSafe(fileName: String): Boolean =
    fileName != null && fileName.nonEmpty &&
      !fileName.startsWith("/") &&
      !fileName.contains('\\') && !fileName.contains('\u0000') &&
      !fileName.takeWhile(_ != '/').contains(':') &&
      !fileName.split('/').contains("..") &&
      !fileName.split('/').contains("")
}
