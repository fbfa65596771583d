package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.StatefulKv
import graft.streaming.StatefulKv.KvOp

class StatefulStreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graftsks").toString

  test("stateful KV: statement stream materializes per-key state across batches") {
    val dir = tmp()
    // batch 0
    Files.write(Paths.get(dir, "b0.jsonl"), java.util.List.of(
      """{"key":"a","op":"set","value":"1","seq":1}""",
      """{"key":"b","op":"set","value":"x","seq":2}""",
      """{"key":"a","op":"set","value":"2","seq":3}"""))
    val ops = spark.readStream.text(dir).select(
      get_json_object($"value", "$.key").as("key"),
      get_json_object($"value", "$.op").as("op"),
      get_json_object($"value", "$.value").as("value"),
      get_json_object($"value", "$.seq").cast("long").as("seq")).as[KvOp]
    val updates = StatefulKv.materialize(spark, ops)
    val q = updates.writeStream.format("memory").queryName("kv_updates")
      .outputMode("append").option("checkpointLocation", tmp() + "/ck").start()
    q.processAllAvailable()
    val afterB0 = spark.table("kv_updates").as[(String, String, Boolean)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(afterB0 === Map("a" -> (("2", true)), "b" -> (("x", true))))
    // batch 1: overwrite b, delete a — state carries across batches
    Files.write(Paths.get(dir, "b1.jsonl"), java.util.List.of(
      """{"key":"b","op":"set","value":"y","seq":4}""",
      """{"key":"a","op":"delete","value":"","seq":5}"""))
    q.processAllAvailable(); q.stop()
    val all = spark.table("kv_updates").as[(String, String, Boolean)].collect()
    val lastPerKey = all.zipWithIndex.groupBy(_._1._1)
      .map { case (k, vs) => k -> vs.maxBy(_._2)._1 }
    assert(lastPerKey("b") === (("b", "y", true)))
    assert(lastPerKey("a")._3 === false) // retraction emitted for DELETE
  }

  test("kmvStream: carried bottom-k state across batches equals the sketch of the union") {
    // the incremental-merge contract the single-batch gate can't see:
    // feed two disjoint batches and the FINAL emitted row per group
    // must equal kmvStream over the union in one batch (bottom-k is a
    // semilattice: merge(sketch(A), sketch(B)) = sketch(A ∪ B))
    val dir = tmp()
    def rows(ids: Range): java.util.List[String] = {
      import scala.jdk.CollectionConverters._
      ids.map(i => s"""{"event_type":"t${i % 2}","user_id":$i}""").toList.asJava
    }
    Files.write(Paths.get(dir, "b0.jsonl"), rows(0 until 300))
    val src = spark.readStream.text(dir).select(
      get_json_object($"value", "$.event_type").as("event_type"),
      get_json_object($"value", "$.user_id").cast("long").as("user_id"))
    val q = graft.streaming.Streaming.kmvStream(src)
      .writeStream.format("memory").queryName("kmv_rows")
      .outputMode("append").option("checkpointLocation", tmp() + "/ck").start()
    q.processAllAvailable()
    Files.write(Paths.get(dir, "b1.jsonl"), rows(300 until 600))
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("kmv_rows")
      .as[(String, Int, Long, Double)].collect()
    // two batches x two groups = four rows; take the LAST per group
    assert(emitted.length === 4)
    val last = emitted.zipWithIndex.groupBy(_._1._1)
      .map { case (g, vs) => g -> vs.maxBy(_._2)._1 }
    // reference: the batch-entry computation over the full union
    val all = (0 until 600)
      .map(i => (s"t${i % 2}", graft.functions.HashOps.mix64(i.toLong) ^ Long.MinValue))
      .groupBy(_._1).map { case (g, vs) =>
        val mins = vs.map(_._2).distinct.sorted.take(64)
        g -> ((mins.length, mins.last,
          63.0 / ((mins.last.toDouble + math.pow(2, 63)) / math.pow(2, 64))))
      }
    all.foreach { case (g, (n, kth, est)) =>
      val (_, ln, lkth, lest) = last(g)
      assert(ln === n, s"$g n_min")
      assert(lkth === kth, s"$g kth")
      assert(lest === est, s"$g est")
    }
  }

  test("stream-stream join with watermarks (roadmap 'JOIN across streams')") {
    val dirL = tmp(); val dirR = tmp()
    Files.write(Paths.get(dirL, "l.jsonl"), java.util.List.of(
      """{"id":"1","t":"2024-01-01T00:00:10Z","side":"l1"}""",
      """{"id":"2","t":"2024-01-01T00:00:20Z","side":"l2"}"""))
    Files.write(Paths.get(dirR, "r.jsonl"), java.util.List.of(
      """{"id":"1","t":"2024-01-01T00:00:15Z","side":"r1"}""",
      """{"id":"3","t":"2024-01-01T00:00:25Z","side":"r3"}"""))
    def side(dir: String, idc: String, tc: String, vc: String) =
      spark.readStream.text(dir).select(
        get_json_object($"value", "$.id").as(idc),
        to_timestamp(get_json_object($"value", "$.t"),
          "yyyy-MM-dd'T'HH:mm:ss'Z'").as(tc),
        get_json_object($"value", "$.side").as(vc))
        .withWatermark(tc, "1 minute")
    val joined = side(dirL, "lid", "lt", "lv").join(
      side(dirR, "rid", "rt", "rv"),
      expr("lid = rid AND rt BETWEEN lt - INTERVAL 30 SECONDS AND lt + INTERVAL 30 SECONDS"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ssj_out").select("lid", "lv", "rv").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(got.toSeq === Seq(("1", "l1", "r1"))) // only key 1 matches in-window
  }
}
