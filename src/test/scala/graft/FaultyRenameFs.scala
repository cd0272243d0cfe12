package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** The local file system under the `faulty` scheme, with one injectable
  * fault: once armed, the first `rename` whose destination's parent is
  * the armed root throws. Register it on a Hadoop configuration with
  * `fs.faulty.impl` and `fs.faulty.impl.disable.cache=true`; the fault
  * state is JVM-wide because every lookup builds a new instance. */
class FaultyRenameFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faulty:///")
  override def getScheme: String = "faulty"

  override def rename(src: Path, dst: Path): Boolean = {
    val intoRoot = Option(dst.getParent).exists(_.toUri.getPath == FaultyRenameFs.root.get)
    if (intoRoot && FaultyRenameFs.armed.compareAndSet(true, false))
      throw new java.io.IOException(s"injected rename failure: $src -> $dst")
    super.rename(src, dst)
  }
}

object FaultyRenameFs {
  val armed = new AtomicBoolean(false)
  /** Local path (no scheme) of the directory whose entries the fault guards. */
  val root = new AtomicReference[String]("")

  /** Run `body` with the scheme registered on `conf`, disarmed and
    * unregistered afterwards. */
  def registered[T](conf: org.apache.hadoop.conf.Configuration)(body: => T): T = {
    conf.set("fs.faulty.impl", classOf[FaultyRenameFs].getName)
    conf.setBoolean("fs.faulty.impl.disable.cache", true)
    try body
    finally {
      armed.set(false)
      conf.unset("fs.faulty.impl")
      conf.unset("fs.faulty.impl.disable.cache")
    }
  }
}
