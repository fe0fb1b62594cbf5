package object perfbench {
  /** Verifies one operation's answer after its clock has stopped:
    * `None` when correct, `Some(reason)` when wrong. */
  type Check = () => Option[String]

  /** Recursively delete a directory tree (benchmark scratch state). */
  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p))
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  /** Bytes of all regular files under `p`. */
  def treeBytes(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else org.apache.commons.io.FileUtils.sizeOfDirectory(p.toFile)

  /** Regular data files under `p`, excluding checksum and marker files. */
  def dataFiles(p: java.nio.file.Path): Int =
    if (!java.nio.file.Files.exists(p)) 0
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(f => java.nio.file.Files.isRegularFile(f) &&
          !f.getFileName.toString.startsWith(".") &&
          !f.getFileName.toString.startsWith("_")).count().toInt
      finally s.close()
    }
}
