package graft.streaming

import graft.SparkSpec
import graft.cdc.{CanalJson, CdcApply}

/** S5 snapshot export/restore (scripts/backup.sh / restore.sh analog). */
class SnapshotSpec extends SparkSpec {

  test("export → restore round-trips state; manifest carries metadata") {
    val state = CdcApply.materializeEnvelopeKeyed(CanalJson.events(CanalJson.fixtureRaw(spark)))
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
    Snapshot.export(state, dir, Map("source_offset" -> "9"))
    val back = Snapshot.restore(spark, dir)
    assert(back.count() === state.count())
    assert(back.columns.sorted === state.columns.sorted)
    val m = Snapshot.manifest(dir)
    assert(m("source_offset") === "9")
    assert(m("row_count").toLong === state.count())
  }

  test("diff classifies added/deleted/changed/unchanged, all four classes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val a = Seq((1L, "pending", "insert"), (2L, "done", "update"),
      (3L, "done", "update")).toDF("id", "status", "op")
    val b = Seq((1L, "done", "update"),   // changed
      (2L, "done", "update"),             // unchanged
      (4L, "pending", "insert"))          // added; 3 deleted
    .toDF("id", "status", "op")
    val out = Snapshot.diff(a, b, "id", Seq("status", "op"))
      .select($"id", $"change").as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "changed", 2L -> "unchanged",
      3L -> "deleted", 4L -> "added"))
  }

  test("torn snapshot (manifest row-count mismatch) fails the restore loudly") {
    val state = CdcApply.materializeEnvelopeKeyed(CanalJson.events(CanalJson.fixtureRaw(spark)))
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_torn").toString
    Snapshot.export(state, dir)
    val props = new java.util.Properties()
    props.setProperty("row_count", "999")
    val out = new java.io.FileOutputStream(s"$dir/MANIFEST.properties")
    try props.store(out, "tampered") finally out.close()
    intercept[IllegalArgumentException] { Snapshot.restore(spark, dir) }
  }
}
