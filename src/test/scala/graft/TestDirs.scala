package graft

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.GraftBridge

/** The specs' one way to make a scratch directory: a fresh empty
  * `<prefix>-<uuid>` under `java.io.tmpdir`, deleted with its contents when
  * the test JVM exits, so a test run leaves none behind. */
object TestDirs {
  def apply(prefix: String): Path = Paths.get(GraftBridge.tempDir(prefix))
}
