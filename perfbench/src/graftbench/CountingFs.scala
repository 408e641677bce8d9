package graftbench

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

/** The local file system under the `benchfs` scheme, counting the files the
  * driver thread opens. Only the traced source probes read through it: the
  * driver-side opens of a source load are its header and footer probes.
  */
final class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = CountingFs.Uri
  override def getScheme: String = CountingFs.Scheme
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (Thread.currentThread eq CountingFs.driver) CountingFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingFs {
  val Scheme = "benchfs"
  val Uri: URI = URI.create(s"$Scheme:///")
  val opens = new AtomicLong()
  @volatile var driver: Thread = _

  /** `path` (a local absolute path) under this file system's scheme. */
  def wrap(path: String): String = s"$Scheme://$path"
}
