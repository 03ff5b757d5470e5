package graft

import java.io.IOException
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The local filesystem under its own `faulty:` scheme, with crashes on
  * demand: inside [[FaultyFs.failingRenamesUnder]], every rename whose
  * source path contains the given segment throws. A store written
  * under this scheme can thus be crashed inside one subtree's writes
  * while the others proceed. */
class FaultyFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faulty:///")
  override def getScheme: String = "faulty"
  override def rename(src: Path, dst: Path): Boolean = {
    FaultyFs.failRenamesUnder.filter(src.toUri.getPath.contains(_)).foreach { seg =>
      throw new IOException(s"injected rename failure under $seg: $src")
    }
    super.rename(src, dst)
  }
}

object FaultyFs {
  @volatile private var failRenamesUnder: Option[String] = None

  /** A fresh temp dir as a `faulty:` path, the scheme registered on
    * `spark`'s Hadoop configuration. */
  def tempDir(spark: SparkSession, prefix: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)
    "faulty://" + java.nio.file.Files.createTempDirectory(prefix).toString
  }

  /** Run `body` with renames under `segment` failing. */
  def failingRenamesUnder[T](segment: String)(body: => T): T = {
    failRenamesUnder = Some(segment)
    try body finally failRenamesUnder = None
  }
}
