package graft

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** A local filesystem under its own scheme that COUNTS listStatus
  * calls — the probe for "versions() never lists the directory"
  * (version-list checkpointing). Registered per test via
  * `fs.counting.impl`; the same on-disk files are reachable through
  * both `file:` and `counting:` paths. */
class CountingFs extends RawLocalFileSystem {
  override def getScheme: String = "counting"
  override def getUri: java.net.URI = java.net.URI.create("counting:///")
  override def listStatus(p: Path): Array[FileStatus] = {
    CountingFs.listCalls.incrementAndGet(): Unit
    super.listStatus(p)
  }
}

object CountingFs {
  val listCalls = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** The `file:` filesystem counting its `listStatus` calls — installed
  * as ONE session's `fs.file.impl` (with `fs.file.impl.disable.cache`)
  * so that session's scans list through it while every other session
  * keeps the plain local filesystem. */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def listStatus(p: Path): Array[FileStatus] = {
    CountingLocalFs.listCalls.incrementAndGet(): Unit
    super.listStatus(p)
  }
}

object CountingLocalFs {
  val listCalls = new java.util.concurrent.atomic.AtomicLong(0L)
}
