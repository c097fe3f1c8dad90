package graft

import java.nio.file.{Files, Path}
import org.scalatest.Assertions.assume

/** Reads a reference fixture file. The calling test is canceled, not
  * failed, when the fixture's directory is absent. */
object Fixtures {
  def bytes(p: Path): Array[Byte] = {
    assume(Files.isDirectory(p.getParent), s"no fixture directory ${p.getParent}")
    Files.readAllBytes(p)
  }
}
