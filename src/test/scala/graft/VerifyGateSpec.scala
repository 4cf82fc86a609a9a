package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.{Files, Paths}

/** The gate-omission tripwire (round 8's hole): a query that throws in
  * Verify used to leave NO artifact, the driver omitted it, and
  * CORRECTNESS read as 100% green with 7 queries missing. Now:
  *  - a planted failing query must land loudly in `_ERRORS.json`, and
  *  - dump dirs ∪ error keys must equal the submitted registry —
  *    asserted here for the FULL SparkEntry registry at sf0.001, so a
  *    key can never silently vanish from the gate again.
  */
class VerifyGateSpec extends AnyFunSuite with ScratchTests {
  private lazy val spark = SparkTestSession.spark
  protected val scratchPrefix = "graft-gate"

  private def dumpDirs(out: String): Set[String] =
    new File(out).listFiles().filter(_.isDirectory).map(_.getName).toSet

  scratchTest("planted failure lands in _ERRORS.json; healthy query still dumps") { tmp =>
    val out = tmp.dir("planted")
    val ok: (SparkSession, String) => DataFrame =
      (s, _) => { import s.implicits._; Seq((1, "a"), (2, "b")).toDF("k", "v") }
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("planted gate failure")
    val errors = Verify.run("/root/testdata/sf0.001", out,
      Seq("gate_ok" -> ok, "gate_boom" -> boom), cpus = "4")

    assert(errors.keySet === Set("gate_boom"))
    assert(errors("gate_boom").contains("planted gate failure"))
    assert(dumpDirs(out) === Set("gate_ok"))
    val artifact = Files.readString(Paths.get(s"$out/_ERRORS.json"))
    assert(artifact.contains("gate_boom") && artifact.contains("planted gate failure"))
    // coverage invariant: every submitted key is accounted for
    assert(dumpDirs(out) ++ errors.keySet === Set("gate_ok", "gate_boom"))
  }

  scratchTest("full registry Verify run at sf0.001: every queries key dumps, zero errors") { tmp =>
    val out = tmp.dir("full")
    val errors = Verify.run("/root/testdata/sf0.001", out,
      SparkEntry.queries.toSeq.sortBy(_._1), cpus = "4")
    assert(errors === Map.empty[String, String],
      s"queries failed the gate: ${errors.keys.mkString(", ")}")
    assert(dumpDirs(out) === SparkEntry.queries.keySet,
      "every registry key must produce a gate dump")
    assert(Files.readString(Paths.get(s"$out/_ERRORS.json")).trim === "{}")
  }
}
