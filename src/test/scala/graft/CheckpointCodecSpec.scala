package graft

import java.nio.file.Files

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

import graft.materialize.Checkpoint

/** The checkpoint log's line codec: any row survives a write and a read,
  * lines written before the codec moved to json4s still decode, and torn
  * or foreign lines read as absent.
  */
class CheckpointCodecSpec extends SparkSpec {
  import ManifestCodecSpec.textGen

  private val rowGen: Gen[CheckpointRow] = for {
    runId <- textGen
    stage <- textGen
    part <- Gen.choose(Int.MinValue, Int.MaxValue)
    tag <- textGen
    fp <- textGen
    rowsIn <- Gen.long
    rowsOut <- Gen.long
    wallMs <- Gen.long
    status <- textGen
  } yield CheckpointRow(runId, stage, part, tag, fp, rowsIn, rowsOut, wallMs, status)

  test("codec round-trip: any row is one line that decodes to itself, in the log too") {
    val prop = Prop.forAll(Gen.listOf(rowGen)) { rows =>
      val path = specDir("graft-ckcodec").toString
      Checkpoint.append(spark, path, rows)
      rows.forall(r => !Checkpoint.encode(r).contains('\n') &&
        Checkpoint.decode(Checkpoint.encode(r)).contains(r)) &&
        Checkpoint.readRows(path) == rows
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, s"$res")
  }

  /** Lines written by the hand-rolled writer this codec replaced: control
    * characters as six-character escapes, everything above U+001F raw.
    */
  private val legacyLines = Seq(
    "{\"run_id\":\"r1\",\"stage\":\"edges\",\"part\":0,\"input_tag\":\"snap-0\",\"input_fingerprint\":\"ab\",\"rows_in\":5,\"rows_out\":5,\"wall_ms\":1,\"status\":\"done\"}",
    "{\"run_id\":\"stream\",\"stage\":\"append\",\"part\":0,\"input_tag\":\"batch-7\",\"input_fingerprint\":\"3\",\"rows_in\":0,\"rows_out\":0,\"wall_ms\":0,\"status\":\"pending\"}",
    "{\"run_id\":\"q\\\"uote\",\"stage\":\"back\\\\slash\",\"part\":-1,\"input_tag\":\"ctl\\u0001\\u000a\\u0009\\u001f\",\"input_fingerprint\":\"\",\"rows_in\":9223372036854775807,\"rows_out\":-9223372036854775808,\"wall_ms\":-7,\"status\":\"d\\\"\\\\\"}",
    "{\"run_id\":\"😀\",\"stage\":\"𝄞 x\",\"part\":2147483647,\"input_tag\":\"é中\u007f\",\"input_fingerprint\":\"a,b]}{\",\"rows_in\":1,\"rows_out\":2,\"wall_ms\":3,\"status\":\"done\"}")

  private val legacyRows = Seq(
    CheckpointRow("r1", "edges", 0, "snap-0", "ab", 5L, 5L, 1L, "done"),
    CheckpointRow("stream", "append", 0, "batch-7", "3", 0L, 0L, 0L, "pending"),
    CheckpointRow("q\"uote", "back\\slash", -1, "ctl\u0001\n\t\u001f", "",
      Long.MaxValue, Long.MinValue, -7L, "d\"\\"),
    CheckpointRow("😀", "𝄞 x", Int.MaxValue, "é中\u007f",
      "a,b]}{", 1L, 2L, 3L, "done"))

  test("lines of the previous writer decode to the rows it wrote") {
    assert(legacyLines.map(Checkpoint.decode) == legacyRows.map(Some(_)))
  }

  test("torn and foreign lines decode to nothing") {
    val torn = legacyLines.flatMap(l => (0 until l.length).map(l.substring(0, _)))
    assert(torn.flatMap(Checkpoint.decode).isEmpty)
    val foreign = Seq("{}", "{\"run_id\":\"r1\"}", "[1,2]", "\"done\"", "not json",
      legacyLines.head.replace("\"part\":0", "\"part\":\"x\""))
    assert(foreign.flatMap(Checkpoint.decode).isEmpty)
  }
}
