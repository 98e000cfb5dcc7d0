package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every session-shared memoized artifact must BUILD — on the driver,
  * a broken artifact degrades silently (SharedArtifacts.warm is loud
  * but non-fatal by contract, and the first consumer rebuilds it cold
  * inside its timed region), so the failure would surface only as an
  * unexplained bench regression. This spec forces each build at
  * sf0.001 and fails the suite instead. */
class SharedArtifactsSpec extends AnyFunSuite {
  import TestSpark._

  test("all declared shared artifacts build and are non-degenerate at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val counts = operators.SharedArtifacts.artifacts(spark, dir).map {
      case (name, f) => name -> f().count()
    }
    assert(counts.nonEmpty)
    val empty = counts.filter(_._2 == 0L).map(_._1)
    // every artifact is a corpus derivative with at least one row at the
    // smallest fixture (pairs, labels, postings, shingles all non-empty)
    assert(empty.isEmpty, s"artifacts built empty: ${empty.mkString(", ")}")
  }
}
