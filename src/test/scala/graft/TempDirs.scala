package graft

import org.scalatest.{Outcome, TestSuite, TestSuiteMixin}

/** Temp directories scoped to one test: every directory made through
  * [[tempDir]] is removed recursively when the test ends, pass or
  * fail (deleteOnExit never removes a non-empty directory).
  */
trait TempDirs extends TestSuiteMixin { this: TestSuite =>
  private val made = scala.collection.mutable.Buffer[java.io.File]()

  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    made += d
    d.toString
  }

  abstract override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally { made.foreach(org.apache.commons.io.FileUtils.deleteQuietly); made.clear() }
}
