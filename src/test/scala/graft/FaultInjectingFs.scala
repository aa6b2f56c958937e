package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** The local filesystem under a private scheme (`graftfault:`),
  * registered in the test `core-site.xml` so Spark's Hadoop conf and
  * the blob store's own classpath conf both resolve it. When armed it
  * fails exactly one cross-root blob rename — the commit-time publish
  * of a pending tombstone blob into the live `_dv` store — the way a
  * store-side rename failure would, with no hook in the engine.
  */
class FaultInjectingFs extends RawLocalFileSystem {
  override def getUri: URI = FaultInjectingFs.Uri
  override def getScheme: String = FaultInjectingFs.Scheme

  override def rename(src: Path, dst: Path): Boolean =
    if (FaultInjectingFs.failThis(src, dst)) false
    else super.rename(src, dst)
}

object FaultInjectingFs {
  val Scheme = "graftfault"
  val Uri: URI = URI.create(s"$Scheme:///")

  // publishes still to pass before the one that fails; < 0 = disarmed
  private val passesLeft = new AtomicInteger(-1)
  private val failed = new AtomicInteger(0)

  /** Fail the `n`-th blob publish from now (1-based). */
  def failNthPublish(n: Int): Unit = {
    failed.set(0)
    passesLeft.set(n - 1)
  }

  def disarm(): Unit = passesLeft.set(-1)

  /** Publishes failed since the last [[failNthPublish]]. */
  def failures: Int = failed.get

  private def isPublish(src: Path, dst: Path): Boolean =
    src.getName.startsWith("delta-") &&
      src.getParent.getParent != dst.getParent.getParent

  // counting down past 0 disarms: only the publish that reads 0 fails
  private def failThis(src: Path, dst: Path): Boolean =
    isPublish(src, dst) && passesLeft.getAndDecrement() == 0 && {
      failed.incrementAndGet()
      true
    }
}
