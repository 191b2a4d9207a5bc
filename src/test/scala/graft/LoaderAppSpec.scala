package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.streaming.GraftLoader

class LoaderAppSpec extends AnyFlatSpec with Matchers {

  behavior of "LoaderApp"

  it should "map each sink name to its loader sink" in {
    LoaderApp.sink("files", "/out") shouldBe GraftLoader.PartitionedFiles("/out")
    LoaderApp.sink("2pc", "/out") shouldBe GraftLoader.TwoPhaseCommit("/out")
    LoaderApp.sink("indata", "/out") shouldBe GraftLoader.InDataOffsets("/out")
    LoaderApp.sink("snapshot", "/out") shouldBe GraftLoader.SnapshotTable("/out")
    LoaderApp.sink("rowbinary", "/out") shouldBe GraftLoader.RowBinaryFiles("/out")
  }

  it should "reject an unknown sink name" in {
    val e = the[IllegalArgumentException] thrownBy LoaderApp.sink("2PC", "/out")
    e.getMessage should include("unknown sink '2PC'")
    an[IllegalArgumentException] should be thrownBy LoaderApp.sink("", "/out")
  }
}
