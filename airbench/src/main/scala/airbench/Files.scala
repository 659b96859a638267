package airbench

/** File-tree helpers for the benchmark's work directory. */
object Files {
  def bytesUnder(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val it = java.nio.file.Files.walk(root).iterator()
      var total = 0L
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
          total += java.nio.file.Files.size(p)
      }
      total
    }
  }

  /** Reads every data file under `dir` once, so a pass does not time the
    * page cache filling. */
  def pretouch(dir: String): Long = {
    val buf = new Array[Byte](1 << 20)
    var bytes = 0L
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator()
    while (it.hasNext) {
      val p = it.next()
      if (java.nio.file.Files.isRegularFile(p)) {
        val in = java.nio.file.Files.newInputStream(p)
        try {
          var n = 0
          while ({ n = in.read(buf); n >= 0 }) bytes += n
        } finally in.close()
      }
    }
    bytes
  }
}
