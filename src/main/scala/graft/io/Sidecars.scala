package graft.io

import java.nio.file.{Files, Path, StandardCopyOption}

/** Shared sidecar write and read for the incremental-store family
  * ([[MvIO]], [[TokenizerIO]], [[SketchIO]], [[DedupIndexIO]],
  * [[AnnIndexIO]], [[TileIO]]). Writes are atomic: a plain
  * `Files.writeString` can be torn by a crash mid-write, leaving a
  * sidecar that EXISTS but is truncated — which reads as "present but
  * unparseable" and wedges the store, breaking each store's "a torn
  * write leaves no observable trace" contract. Temp file + ATOMIC_MOVE
  * makes every marker either absent or complete.
  */
private[io] object Sidecars {
  def writeAtomic(target: Path, content: String): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, target,
      StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The integer `keys` of the `kind` store's sidecar at `target`,
    * after checking that it exists and is format 1: a missing sidecar
    * means the directory is not such a store (or a write died before
    * its last file), an unknown format a newer writer, a missing key a
    * truncated file. Each fails loudly here, not as a silently wrong
    * read downstream.
    */
  def readInts(target: Path, kind: String, keys: String*): Map[String, Int] = {
    require(Files.exists(target),
      s"missing $kind sidecar $target — not a $kind store (or an interrupted write)")
    val s = Files.readString(target)
    def field(k: String): Option[Int] =
      (s""""$k"\\s*:\\s*(\\d+)""").r.findFirstMatchIn(s).map(_.group(1).toInt)
    val format = field("format")
    require(format.contains(1),
      s"unsupported $kind format ${format.getOrElse("<absent>")} in $target (this reader understands format 1)")
    keys.map { k =>
      val v = field(k)
      require(v.isDefined, s"$kind sidecar $target has no \"$k\" entry")
      k -> v.get
    }.toMap
  }
}
