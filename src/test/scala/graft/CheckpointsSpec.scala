package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import graft.runtime.Checkpoints

/** A committed stage is reused only when its parquet carries the _SUCCESS
  * marker AND its manifest records the caller's fingerprint. Losing either
  * file makes the stage unverifiable, so a rerun with the same fingerprint
  * must recompute it rather than trust what is left on disk.
  */
class CheckpointsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def rerunsAfterDeleting(file: String => String): Unit = {
    val dir = Files.createTempDirectory("graft_ckpt_absent").toString
    val ck = new Checkpoints(spark, dir)
    val df = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    ck.stage("st", "fp1")(df)
    var recomputed = false
    ck.stage("st", "fp1") { recomputed = true; df }
    assert(!recomputed, "an intact commit with the same fingerprint must be reused")

    Files.delete(Paths.get(file(dir)))
    val again = ck.stage("st", "fp1") { recomputed = true; df }
    assert(recomputed, s"stage reused after ${file(dir)} was deleted")
    assert(again.as[(String, Int)].collect().sorted.toSeq === Seq(("a", 1), ("b", 2)))
    // the recompute committed afresh: both files are back and it is reusable
    assert(ck.isCommitted("st") && ck.committedFingerprint("st").contains("fp1"))
  }

  test("a commit whose manifest is absent is recomputed, not reused") {
    rerunsAfterDeleting(dir => s"$dir/_manifest_st.json")
  }

  test("a commit whose _SUCCESS marker is absent is recomputed, not reused") {
    rerunsAfterDeleting(dir => s"$dir/st/_SUCCESS")
  }
}
