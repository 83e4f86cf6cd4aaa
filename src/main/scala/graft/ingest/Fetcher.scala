package graft.ingest

import java.io.{FileOutputStream, InputStream}
import java.nio.file.{Files, Path}

/** Bulk source fetch to a local staging dir — SURVEY §2.1 S2
  * (`load_dataset.py:359-360` `ds.download_files()` into the data dir).
  * Driver-side: source files are the small upstream artifacts; the
  * staged copies are what `spark.read` then scans. Supports http(s)
  * and file URLs (the latter for hermetic tests).
  */
object Fetcher {

  def download(url: String, destDir: Path): Path = {
    Files.createDirectories(destDir)
    val name = url.split('/').last match {
      case "" | null => "download"
      case n => n
    }
    val dest = destDir.resolve(name)
    val in: InputStream = new java.net.URI(url).toURL.openStream()
    try {
      val out = new FileOutputStream(dest.toFile)
      try in.transferTo(out) finally out.close()
    } finally in.close()
    dest
  }
}
