package graft

import java.nio.file.{Files, Paths}

import org.scalatest.Assertions

/** The kukur checkout whose own fixtures the conformance suites read.
  * One check for all of them: when the checkout is absent, a reading
  * suite aborts (or a reading test fails) up front with one message,
  * rather than with scattered file-not-found errors.
  */
object ReferenceCheckout {
  val Root = "/root/reference"

  /** [[Root]], or a failure naming the missing checkout. */
  def root: String = {
    if (!Files.isDirectory(Paths.get(Root))) Assertions.fail(s"kukur reference checkout absent at $Root")
    Root
  }
}
