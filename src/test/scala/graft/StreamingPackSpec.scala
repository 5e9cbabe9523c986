package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingPack

/** The online packer's parity contract: replaying the corpus in doc_id
  * order through `transformWithState` — across MULTIPLE micro-batches,
  * so the running token count must survive in the state store — emits
  * bin assignments BIT-IDENTICAL to the registered batch `doc_pack`
  * query on the same fixture.
  */
class StreamingPackSpec extends SparkSpec {

  test("streaming pack ≡ batch doc_pack when replayed in order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val docs = Tables.table(spark, sfDir, "documents")
        .select(col("source"),
          (col("doc_id") / 1000).cast("long").as("shard"),
          col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .as[StreamingPack.Doc]
        .collect().sortBy(_.doc_id)
      val input = MemoryStream[StreamingPack.Doc]
      val q = StreamingPack.pack(input.toDS(), budget = 512)
        .toDF().writeStream.format("memory").queryName("pack_out")
        .outputMode("append").start()
      // three ordered micro-batches: bins crossing a batch boundary prove
      // the cumsum lives in state, not in the batch
      val chunks = docs.grouped(math.max(1, docs.length / 3 + 1)).toSeq
      chunks.foreach { chunk =>
        input.addData(chunk: _*)
        q.processAllAvailable()
      }
      q.stop()
      // precondition for the parity assert to actually exercise state
      // carry-over: some (source, shard) key must receive rows in MORE
      // than one micro-batch (a fixture/chunking change that aligned
      // chunk boundaries with key boundaries would silently turn this
      // spec into one that passes with the state update removed)
      val keysPerChunk = chunks.map(_.map(d => (d.source, d.shard)).toSet)
      val crossBatchKeys = keysPerChunk.combinations(2)
        .map { case Seq(a, b) => (a intersect b).size }.sum
      assert(crossBatchKeys > 0, "no key spans a micro-batch boundary")

      val streamed = spark.table("pack_out")
        .select("doc_id", "source", "shard", "n_tok", "bin")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1)
      val batch = SparkEntry.queries("doc_pack")(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1)
      assert(streamed.length == batch.length)
      streamed.zip(batch).foreach { case (s, b) => assert(s == b, s"$s != $b") }
    }
  }
}
