package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs for one suite: each is made under one per-suite root in
  * `java.io.tmpdir`, and `afterAll` deletes that root, so a run leaves
  * none of them behind. */
trait SuiteTempDirs extends BeforeAndAfterAll { this: Suite =>
  private var tempRoot: Path = _

  /** A fresh empty directory under the suite's root. */
  protected def suiteTempDir(prefix: String): String = synchronized {
    if (tempRoot == null)
      tempRoot = Files.createTempDirectory(s"graft_${suiteName}_")
    Files.createTempDirectory(tempRoot, prefix).toString
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally synchronized {
      if (tempRoot != null) FileUtils.deleteDirectory(tempRoot.toFile)
      tempRoot = null
    }
}
