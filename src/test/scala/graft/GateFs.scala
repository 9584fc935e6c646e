package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference
import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}

/** The local filesystem with a GATE on `open`: after [[GateFs.arm]],
  * the first open of a matching path counts down `reached` and waits
  * for `release` — the seam for "another commit lands while this
  * writer's attempt is in flight". Installed per test as the
  * session's `fs.file.impl` with `fs.file.impl.disable.cache`, so the
  * session's scans construct it; the files stay ordinary local
  * files, and a suite running in parallel on the shared session reads
  * through it unchanged — only a path the armed gate matches is held. */
class GateFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    GateFs.pass(f)
    super.open(f, bufferSize)
  }
}

object GateFs {
  final class Gate(val matches: Path => Boolean) {
    val reached = new CountDownLatch(1)
    val release = new CountDownLatch(1)
  }

  private val armed = new AtomicReference[Gate](null)

  def arm(matches: Path => Boolean): Gate = {
    val g = new Gate(matches)
    armed.set(g)
    g
  }

  private def pass(f: Path): Unit = {
    val g = armed.get
    if (g != null && g.matches(f) && armed.compareAndSet(g, null)) {
      g.reached.countDown()
      g.release.await(120, TimeUnit.SECONDS): Unit
    }
  }
}
