package graft

import java.nio.file.{Files, Path}

/** A `cp` pipe command that appends one line to a counter file each
  * time it is spawned, so a spec can pin how often a pipeline ran it.
  */
object SpawnCounter {

  /** `refuseEmpty` makes an empty input fail (exit 1, no output). */
  def command(counter: Path, refuseEmpty: Boolean = false): Seq[String] =
    Seq("sh", "-c", "echo x >> \"$0\"; " +
      (if (refuseEmpty) "test -s \"$1\" && " else "") + "cp \"$1\" \"$2\"",
      counter.toString)

  def spawns(counter: Path): Int =
    if (Files.exists(counter)) Files.readAllLines(counter).size else 0
}
