package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming.StreamOps

/** neardup_stream: one streaming query, `StreamOps.nearDupPairsStream`
  * (md5, 16 permutations, RocksDB state), fed a seeded document feed in
  * micro-batches of `PerEpoch` documents through a memory source, into a
  * `foreachBatch` sink the benchmark owns. Every 7th document has a twin
  * that arrives in the same micro-batch or one of the next two. */
object StreamWorkload {
  val PerEpoch = 250
  val WordsPerDoc = 100
  val NPerms = 16
  val BandRows = 4
  val MinAgree = 13
  /** Checkpoint bytes are measured after this many micro-batches, a fixed
    * amount of work that the warm-up always covers. */
  val DiskEpochs = 6

  /** One micro-batch: its time, its documents, and its planted twins and
    * how many of them were emitted. */
  final case class Epoch(ms: Double, docs: Int, planted: Int, found: Int)

  def run(r: Run): Outcome = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = r.spark.sqlContext
    import r.spark.implicits._
    val checks = new Checks
    val t0 = System.nanoTime()
    val feed = new DocFeed(r.seed, PerEpoch, WordsPerDoc)
    val mem = MemoryStream[(Timestamp, Long, String)]
    val drops = r.sc.longAccumulator("perfbench-ring-drops")
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val sink: (DataFrame, Long) => Unit = (df, _) =>
      df.collect().foreach(row => out.add((row.getLong(0), row.getLong(1), row.getLong(2))))
    val ckpt = new File(r.work, "checkpoint")
    val q = StreamOps.withRocksDbStateStore(r.spark) {
      StreamOps.nearDupPairsStream(mem.toDF().toDF("ts", "doc_id", "text"),
        nPerms = NPerms, bandRows = BandRows, minAgree = MinAgree, dropCounter = Some(drops))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt.getPath)
        .outputMode("append").start()
    }
    var docsFed = 0L
    var epochs = 0
    var diskBytesPerDoc = 0.0

    /** Feeds the next micro-batch, waits for it, and checks its output:
      * every planted twin in it is emitted with the agreement an
      * independent signature gives, and no pair is below `MinAgree`. */
    def epoch(): Epoch = {
      val (docs, planted) = feed.next()
      val rows = docs.zipWithIndex.map { case ((id, text), i) =>
        (new Timestamp(1700000000000L + (docsFed + i) * 1000L), id, text)
      }
      val ms = Stats.timed {
        r.tracer.span("stream.epoch", docsFed) { mem.addData(rows); q.processAllAvailable() }
      }._2
      docsFed += docs.length
      epochs += 1
      if (epochs == DiskEpochs) diskBytesPerDoc = Stats.diskBytes(ckpt).toDouble / docsFed
      val got = Iterator.continually(out.poll()).takeWhile(_ != null)
        .map { case (a, b, agree) => (math.min(a, b), math.max(a, b)) -> agree }.toMap
      val problems = ArrayBuffer.empty[String]
      got.filter(_._2 < MinAgree).foreach(g => problems += s"pair ${g._1} has n_agree ${g._2}")
      var found = 0
      planted.foreach { case (pair, (ta, tb)) =>
        val sa = MinhashCheck.signature(ta, NPerms)
        val sb = MinhashCheck.signature(tb, NPerms)
        val agree = MinhashCheck.agreement(sa, sb)
        got.get(pair) match {
          case Some(a) =>
            found += 1
            if (a != agree) problems += s"pair $pair n_agree $a, expected $agree"
          case None =>
            if (agree >= MinAgree && MinhashCheck.shareBand(sa, sb, BandRows))
              problems += s"planted pair $pair missing"
        }
      }
      checks.record("micro-batch", problems.toSeq)
      Epoch(ms, docs.length, planted.length, found)
    }

    try {
      Report.warmUp(8, 14) { epoch().ms / 1000 }
      val setupS = Stats.seconds(t0)
      Report("neardup_stream", r, setupS, checks) { _ =>
        val timed = ArrayBuffer.empty[Epoch]
        val gc0 = Stats.gcMs()
        Report.loop(r.seconds)(_ => timed += epoch())
        Phase(timed.map(_.ms).toSeq,
          timed.map(_.docs).sum / (timed.map(_.ms).sum / 1000),
          timed.map(_.found).sum.toDouble / timed.map(_.planted).sum,
          diskBytesPerDoc, Stats.gcMs() - gc0)
      } {
        layers(r, q.recentProgress.toSeq, q.runId.toString, drops.value, docsFed, feed)
      }
    } finally q.stop()
  }

  /** Per-micro-batch figures of the traced phase from the query's own
    * progress reports, the Spark work of its jobs, and the signature
    * kernel called alone. */
  private def layers(r: Run, progress: Seq[StreamingQueryProgress], runId: String,
      drops: Long, docsFed: Long, feed: DocFeed): Map[String, Double] = {
    val tracedEpochs = r.tracer.durations("stream.epoch").length
    val data = progress.filter(_.numInputRows > 0).takeRight(tracedEpochs)
    def dur(k: String): Double =
      Stats.median(data.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    val state = data.last.stateOperators.headOption
    r.tracer.listener.flush(r.sc)
    // the stream's jobs, every micro-batch so far, run under its run id
    val shuffle = r.tracer.listener.sum(runId).shuffleBytes
    import r.spark.implicits._
    val docs = Seq.fill(8)(feed.next()._1).flatten.map(_._2).toDF("text").localCheckpoint()
    val n = docs.count()
    (1 to 3).foreach { i =>
      r.tracer.span("ops.minhash", i) {
        docs.select(graft.ops.Minhash.signatureBinaryUdf(NPerms)(col("text")).as("s"))
          .agg(sum(length(col("s")))).collect()
      }
    }
    Map(
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.commit_offsets_ms" -> dur("commitOffsets"),
      "stream.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "stream.state_mem_bytes" -> state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "stream.ring_drops" -> drops.toDouble,
      "stream.shuffle_bytes_per_doc" -> shuffle.toDouble / docsFed,
      "ops.minhash.docs_per_s" -> n / (Stats.median(r.tracer.durations("ops.minhash")) / 1000))
  }
}
