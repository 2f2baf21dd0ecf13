package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, Options, Path}

/** Atomic small-file writes for live metadata the engine reads on
  * its serving paths (index `_META`/`_SEGROWS`/`_RECALL0`, sidecar
  * parameter markers): write a sibling tmp file, then atomically
  * rename-with-overwrite — so no reader (or post-crash restart) can
  * ever observe a truncated file where a torn `fs.create(overwrite)`
  * would park one, and no reader ever observes a MISSING destination
  * mid-swap. The TableSync `_CURRENT` / AnnIndex `_GEN`
  * pointer-swap discipline, shared.
  *
  * The overwrite rename is scheme-aware ([[renameOverwrite]]):
  * HDFS-style stores perform `FileContext.rename(OVERWRITE)` as one
  * NameNode metadata op, but on the LOCAL filesystem Hadoop
  * decomposes it into status + delete + rename — the round-16
  * two-writer race spec caught a racing writer throwing
  * FileAlreadyExistsException from that window, and a reader racing
  * a swap could see no destination at all. The local branch
  * therefore uses POSIX rename(2) via nio ATOMIC_MOVE +
  * REPLACE_EXISTING, which is a true atomic replace. Same story for
  * lock files ([[createExclusive]]): `FileSystem.createNewFile` is
  * exists-check-then-create, so the local branch uses nio
  * `Files.createFile` (O_CREAT|O_EXCL).
  *
  * Version-addressed files a caller only ever WRITES at uncommitted
  * versions (per-batch segments, archived manifests) may stay plain
  * writes — a torn uncommitted write is invisible at the committed
  * read point and the replay overwrites it. But the exemption is a
  * property of the WRITE SITE, not the file family: OccStats
  * `_occ_v<N>` moved here because its migration path writes at the
  * last COMMITTED version, where a torn create is read by the very
  * next probe.
  */
private[graft] object AtomicFiles {
  private val seq = new java.util.concurrent.atomic.AtomicLong()

  /** The checksum-free side of a (possibly) checksummed filesystem.
    * Tmp files write through it so the atomic publish moves ONE file
    * — a `.crc` sibling cannot follow a raw rename, and a stale one
    * would make checksummed readers fail the NEW bytes against the
    * OLD sums.
    */
  private def rawOf(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case other                 => other
  }

  private def isLocal(p: Path): Boolean =
    Option(p.toUri.getScheme).forall(_ == "file")

  /** Atomic rename-with-overwrite: one metadata op on HDFS-style
    * stores, POSIX rename(2) on the local filesystem (where Hadoop's
    * OVERWRITE decomposes — see class doc). Any stale checksum
    * sidecars (legacy writes through the checksummed local FS) are
    * swept first, so a checksummed reader never verifies the moved
    * bytes against old sums.
    */
  def renameOverwrite(fs: FileSystem, conf: Configuration,
      src: Path, dest: Path): Unit = {
    val s = fs.makeQualified(src)
    val d = fs.makeQualified(dest)
    if (isLocal(d)) {
      fs match {
        case c: ChecksumFileSystem =>
          // dest's stale sums go BEFORE the move (a reader in the gap
          // sees the old bytes unverified, never a mismatch); src is
          // this writer's own tmp, about to vanish
          c.getRawFileSystem.delete(c.getChecksumFile(d), false)
          c.getRawFileSystem.delete(c.getChecksumFile(s), false)
        case _ => ()
      }
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s.toUri.getPath),
        java.nio.file.Paths.get(d.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else
      FileContext.getFileContext(fs.getUri, conf)
        .rename(s, d, Options.Rename.OVERWRITE)
  }

  /** Atomic create-exclusive for lock files: true iff THIS caller
    * created the file. `FileSystem.createNewFile` is exists-check
    * then create — two racers can both pass the check and the loser
    * THROWS FileAlreadyExistsException instead of returning false
    * (or, on the raw local FS, both can "succeed") — so the local
    * branch uses nio `Files.createFile` (O_CREAT|O_EXCL, atomic in
    * the kernel) and elsewhere the thrown exists-exception maps to
    * false. On stores with no atomic create-exclusive at all (raw
    * S3) this remains best-effort detection, as documented by the
    * callers.
    */
  def createExclusive(fs: FileSystem, p: Path): Boolean = {
    val q = fs.makeQualified(p)
    if (isLocal(q)) {
      val jp = java.nio.file.Paths.get(q.toUri.getPath)
      try {
        if (jp.getParent != null)
          java.nio.file.Files.createDirectories(jp.getParent)
        java.nio.file.Files.createFile(jp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      try fs.createNewFile(q)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      }
    }
  }

  /** The read twin of [[write]]: the file's UTF-8 text, or None when
    * it is absent.
    */
  def read(fs: FileSystem, path: Path): Option[String] =
    try {
      val buf = new Array[Byte](fs.getFileStatus(path).getLen.toInt)
      val in = fs.open(path)
      try in.readFully(0, buf) finally in.close()
      Some(new String(buf, "UTF-8"))
    } catch { case _: java.io.FileNotFoundException => None }

  def write(fs: FileSystem, conf: Configuration, dest: Path,
      payload: Array[Byte]): Unit = {
    // unique tmp name per write: a FIXED sibling would let two
    // concurrent writers of the same dest truncate each other's
    // open tmp and publish a torn dest through the rename — the
    // exact state this helper exists to rule out. pid+counter keeps
    // names collision-free across processes AND threads; a stranded
    // tmp from a crash is swept by the owning store's hygiene pass
    // (or harmlessly ignored).
    val tmp = fs.makeQualified(new Path(dest.getParent,
      s"${dest.getName}.${ProcessHandle.current().pid()}-" +
        s"${seq.incrementAndGet()}.tmp"))
    val out = rawOf(fs).create(tmp, true)
    try {
      out.write(payload)
      // kill -9 point: stream OPEN, payload possibly still buffered —
      // a real SIGKILL here leaves a truncated tmp that no unwind can
      // model (finally would flush it). KillMinus9Spec parks a child
      // JVM here and kills it; the tmp+rename discipline must make
      // the torn tmp invisible to every reader.
      FaultPoints.pulse("AtomicFiles.midwrite")
    } finally out.close()
    FaultPoints.reach("AtomicFiles.tmp")
    renameOverwrite(fs, conf, tmp, dest)
  }
}
