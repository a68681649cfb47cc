package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

object Util {
  /** The `durationMs` parts of a trigger that the per-layer metrics report. */
  val TriggerParts: Seq[String] =
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.createDirectories(Paths.get(to).getParent)
    Files.walk(src).forEach { f =>
      val _ = Files.copy(f, Paths.get(to).resolve(src.relativize(f).toString),
        StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    val _ = Files.write(Paths.get(path), text.getBytes("UTF-8"))
  }
}
