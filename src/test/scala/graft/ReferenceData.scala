package graft

import java.nio.file.{Files, Paths}
import org.scalatest.Assertions.fail

/** The reference implementation's input corpus and its word-count
  * output, which some specs compare against byte for byte. A checkout
  * without them fails each of those tests with one precondition
  * message instead of a read error.
  */
object ReferenceData {
  private val Dir = "/root/reference"

  private def need(path: String): Unit =
    if (!Files.exists(Paths.get(path)))
      fail(s"needs $Dir/data or mr-out-final, absent in this checkout")

  /** Glob over the corpus text files. */
  def corpus: String = { need(s"$Dir/data"); s"$Dir/data/*.txt" }

  /** The reference's final word-count output. */
  def golden: String = { need(s"$Dir/mr-out-final"); s"$Dir/mr-out-final" }
}
