package graft

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** Dead-code gate: every def `scripts/unreached.py` prints must be kept on
  * purpose, with its verdict, in `scripts/unreached.allow`, so deleting the
  * last caller of a def cannot leave the def behind silently; and every
  * kept entry must still be printed, so the list does not go stale. */
class UnreachedSpec extends AnyFunSuite {

  test("scripts/unreached.py prints exactly the defs scripts/unreached.allow keeps") {
    // "<file>:<line> <Object.def>" → "<file> <Object.def>"
    val printed = Seq("python3", "scripts/unreached.py").!!.linesIterator
      .filter(_.nonEmpty).map(_.replaceFirst(":\\d+ ", " ")).toSet
    val allowSrc = scala.io.Source.fromFile("scripts/unreached.allow", "UTF-8")
    val kept = try allowSrc.getLines().filterNot(l => l.startsWith("#") || l.isBlank)
      .map(_.split(" — ", 2)).map { parts =>
        assert(parts.length == 2 && parts(1).trim.nonEmpty, s"entry without a verdict: ${parts.head}")
        parts.head.trim
      }.toSet
    finally allowSrc.close()
    assert((printed -- kept).isEmpty,
      s"unreached defs with no verdict in scripts/unreached.allow: ${(printed -- kept).toSeq.sorted}")
    assert((kept -- printed).isEmpty,
      s"scripts/unreached.allow keeps defs the script no longer prints: ${(kept -- printed).toSeq.sorted}")
  }
}
