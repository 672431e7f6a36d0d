package perfbench

import java.io.{File, FileInputStream, ObjectInputStream}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{EngineConfig, ZebraEngine}
import graft.functions.Distances
import graft.index.LshForest

/** ingest_mixed: an LSH engine over a clustered 64-d corpus, driven by one
  * client in a closed loop. Each step inserts a 2,000-row batch, queries an
  * exact copy of one just-inserted vector (read your writes), then queries
  * one vector from a pool that alternates corpus clusters and unseen ones;
  * every third step removes 100 live ids. */
object IngestWorkload {
  val Dim = 64
  val K = 10
  val Clusters = 64
  val Sigma = 0.12
  val CorpusSize = 5000
  val PoolSize = 256
  val RecallQueries = 32
  val IngestBatch = 2000
  val RemoveEvery = 3
  val RemoveIds = 100
  /** Engine builds in set-up; setup_s takes their median. */
  val SetupBuilds = 3

  private val querySchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
  private val recordSchema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def queryFrame(spark: SparkSession, qs: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(qs.map { case (id, v) => Row(id, v.toSeq) }.asJava, querySchema)

  def recordFrame(spark: SparkSession, rs: Seq[(String, Array[Float])]): DataFrame =
    spark.createDataFrame(rs.map { case (id, v) => Row(id, v.toSeq) }.asJava, recordSchema)

  /** A built engine with the corpus the benchmark knows it holds. */
  final case class Built(
      engine: ZebraEngine, corpus: Corpus, gen: VectorGen, setupS: Double,
      refreshS: Seq[Double])

  /** Generates the corpus and builds the engine (ingest + index build)
    * `SetupBuilds` times, each into a fresh directory, keeping the last.
    * Returns generation time plus the median build. */
  def setup(r: Run): Built = {
    val t0 = System.nanoTime()
    val gen = new VectorGen(r.seed, Dim, Clusters, Sigma)
    val rows = Array.tabulate(CorpusSize)(i => (f"v$i%08d", gen.corpusPoint()))
    val corpus = new Corpus
    rows.foreach { case (id, v) => corpus.add(id, v) }
    val genS = Stats.seconds(t0)
    var engine: ZebraEngine = null
    val refreshS = ArrayBuffer.empty[Double]
    val buildS = (1 to SetupBuilds).map { b =>
      val dir = new File(r.work, s"engine-$b").getPath
      val t = System.nanoTime()
      engine = ZebraEngine.create(r.spark, dir, EngineConfig(dim = Dim))
      engine.insertRecords(recordFrame(r.spark, rows.toSeq))
      refreshS += Stats.timed(engine.refreshIndex())._2 / 1000
      val s = Stats.seconds(t)
      if (b < SetupBuilds) ZebraEngine.destroy(dir)
      System.err.println(f"[perfbench] set-up build $b: $s%.2f s")
      s
    }
    Built(engine, corpus, gen, genS + Stats.median(buildS), refreshS.toSeq)
  }

  /** Runs one `queryVectors` call and checks the answer of every query:
    * k rows, ids the corpus holds, ascending dist equal to the exact
    * distance. Returns the rows per query id and the call's time. */
  def query(r: Run, b: Built, qs: Seq[(Long, Array[Float])], checks: Checks, request: Long)
      : (Map[Long, Seq[(String, Double)]], Double) = {
    val (rows, ms) = Stats.timed {
      r.tracer.span("engine.query", request) {
        val df = r.tracer.span("engine.query.plan", request) {
          b.engine.queryVectors(queryFrame(r.spark, qs), K)
        }
        r.tracer.span("engine.query.exec", request) { df.collect() }
      }
    }
    val byQuery = rows.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      q -> rs.toSeq.map(row => (row.getAs[String]("id"), row.getAs[Double]("dist")))
    }
    qs.foreach { case (qid, qv) =>
      val got = byQuery.getOrElse(qid, Nil)
      val problems = ArrayBuffer.empty[String]
      if (got.length != K) problems += s"query $qid: ${got.length} rows, not $K"
      val dists = got.map(_._2)
      if (dists != dists.sorted) problems += s"query $qid: dist not ascending"
      got.foreach { case (id, d) =>
        b.corpus.vector(id) match {
          case None => problems += s"query $qid: id $id is not in the corpus"
          case Some(v) =>
            val exact = Corpus.round4(Corpus.l2sq(qv, v))
            if (math.abs(exact - d) > 1.5e-4) problems += s"query $qid: id $id dist $d, exact $exact"
        }
      }
      checks.record("query", problems.toSeq)
    }
    (byQuery, ms)
  }

  def recall(got: Seq[(String, Double)], truth: Seq[String]): Double =
    got.map(_._1).toSet.intersect(truth.toSet).size.toDouble / truth.size

  def run(r: Run): Outcome = {
    val b = setup(r)
    val checks = new Checks
    val pool = b.gen.queries(PoolSize).zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
    var nextId = 0
    val insertMs = ArrayBuffer.empty[Double]
    val insertFiles = ArrayBuffer.empty[Double]
    val removeMs = ArrayBuffer.empty[Double]
    val engineDir = new File(b.engine.path)

    def insert(request: Long): Seq[(String, Array[Float])] = {
      val rows = Seq.fill(IngestBatch) { nextId += 1; (f"n$nextId%08d", b.gen.corpusPoint()) }
      val files0 = Stats.fileCount(engineDir)
      insertMs += Stats.timed {
        r.tracer.span("engine.insert", request) {
          b.engine.insertRecords(recordFrame(r.spark, rows))
        }
      }._2
      insertFiles += (Stats.fileCount(engineDir) - files0).toDouble
      rows.foreach { case (id, v) => b.corpus.add(id, v) }
      rows
    }

    def remove(request: Long): Unit = {
      val live = b.corpus.liveIds
      val ids = Seq.fill(RemoveIds)(live(b.gen.nextInt(live.length))).distinct
      removeMs += Stats.timed {
        r.tracer.span("engine.remove", request) {
          import r.spark.implicits._
          b.engine.remove(ids.toDF("id"))
        }
      }._2
      ids.foreach(b.corpus.remove)
    }

    def step(request: Long, i: Int, lat: ArrayBuffer[Double]): Unit = {
      val rows = insert(request)
      // read your writes: the copy must come back first, at distance 0
      val (copyId, copyVec) = rows(b.gen.nextInt(rows.length))
      val (gotCopy, ms1) = query(r, b, Seq((-1L, copyVec)), checks, request)
      lat += ms1
      val top = gotCopy.getOrElse(-1L, Nil).headOption
      checks.record("read-your-writes",
        if (top.contains((copyId, 0.0))) Nil else Seq(s"$copyId came back as $top"))
      lat += query(r, b, Seq(pool(i % pool.length)), checks, request)._2
      if (i % RemoveEvery == RemoveEvery - 1) remove(request)
    }

    /** Recall@10 of one call over the first `RecallQueries` of the pool,
      * against the exact top-10 of the live corpus; and a check that the
      * engine's own exhaustive budget returns the exact distances. */
    def recallNow(request: Long): Double = {
      val traced = r.tracer.on
      r.tracer.on = false // not a timed operation
      try {
        val qs = pool.take(RecallQueries)
        val (got, _) = query(r, b, qs, checks, request)
        val exhaustive = b.engine
          .queryVectors(queryFrame(r.spark, qs.take(2)), K, searchK = Some(Int.MaxValue))
          .collect().groupBy(_.getAs[Long]("query_id"))
        qs.take(2).foreach { case (qid, qv) =>
          val want = b.corpus.exactTopK(qv, K)
            .map(id => Corpus.round4(Corpus.l2sq(qv, b.corpus.vector(id).get)))
          val have = exhaustive.getOrElse(qid, Array.empty).map(_.getAs[Double]("dist")).sorted.toSeq
          checks.record("exhaustive search",
            if (have.length == K &&
                have.zip(want).forall { case (h, w) => math.abs(h - w) <= 1.5e-4 }) Nil
            else Seq(s"query $qid: exhaustive dists $have, exact $want"))
        }
        qs.map(q => recall(got.getOrElse(q._1, Nil), b.corpus.exactTopK(q._2, K))).sum / qs.length
      } finally r.tracer.on = traced
    }

    // one insert and one remove warm those paths on the indexed engine;
    // then single queries until they stop getting faster
    val tw = System.nanoTime()
    insert(-1)
    remove(-1)
    // bytes per live row after a fixed amount of work: the build, one
    // insert and one remove
    val diskBytesPerRow = Stats.diskBytes(engineDir).toDouble / b.corpus.live
    Report.warmUp(3, 6) { query(r, b, Seq(pool(0)), checks, -1)._2 }
    val setupS = b.setupS + Stats.seconds(tw)

    Report("ingest_mixed", r, setupS, checks) { pass =>
      val lat = ArrayBuffer.empty[Double]
      insertMs.clear(); insertFiles.clear(); removeMs.clear()
      val gc0 = Stats.gcMs()
      Report.loop(r.seconds)(i => step(pass * 1000000L + i, i, lat))
      val gcMs = Stats.gcMs() - gc0
      val n = b.engine.count()
      checks.record("count", if (n == b.corpus.live) Nil
        else Seq(s"engine counts $n rows; ${b.corpus.live} were inserted and not removed"))
      Phase(lat.toSeq, insertMs.length * IngestBatch / (insertMs.sum / 1000),
        recallNow(pass * 1000000L - 1), diskBytesPerRow, gcMs)
    } {
      val l = r.tracer.listener
      l.flush(r.sc)
      val q = l.sum("engine.query.")
      val ins = l.sum("engine.insert")
      val rem = l.sum("engine.remove")
      val calls = math.max(1, r.tracer.durations("engine.query").length)
      Map(
        "engine.query.plan_ms" -> Stats.median(r.tracer.durations("engine.query.plan")),
        "engine.query.exec_ms" -> Stats.median(r.tracer.durations("engine.query.exec")),
        "engine.query.jobs" -> q.jobs.toDouble / calls,
        "engine.query.task_ms" -> q.taskMs.toDouble / calls,
        "engine.query.input_bytes" -> q.inputBytes.toDouble / calls,
        "engine.query.shuffle_bytes" -> q.shuffleBytes.toDouble / calls,
        "engine.insert.ms" -> Stats.median(insertMs.toSeq),
        "engine.insert.jobs" -> ins.jobs.toDouble / math.max(1, insertMs.length),
        "engine.insert.files" -> Stats.median(insertFiles.toSeq),
        "engine.remove.ms" -> (if (removeMs.isEmpty) 0.0 else Stats.median(removeMs.toSeq)),
        "engine.remove.input_bytes" -> rem.inputBytes.toDouble / math.max(1, removeMs.length),
        "engine.refresh.s" -> Stats.median(b.refreshS)) ++
        layers(r, b, pool.take(1))
    }
  }

  def forest(engine: ZebraEngine): LshForest.ForestModel = {
    val in = new ObjectInputStream(new FileInputStream(new File(engine.path, "index_model.bin")))
    try in.readObject().asInstanceOf[LshForest.ForestModel] finally in.close()
  }

  /** The steps of one query, each called on its own on the same queries
    * and the engine's own forest and bucket table: route, candidates,
    * exact rerank; then the distance kernel alone, and an index build and
    * write over the engine's vectors. */
  def layers(r: Run, b: Built, qs: Seq[(Long, Array[Float])]): Map[String, Double] = {
    val tr = r.tracer
    val model = forest(b.engine)
    // LshForest.topK's default budget
    val searchK = math.max(K * model.numTrees, math.max(4 * K, model.opts.maxNodeSize))
    val q = queryFrame(r.spark, qs)
    val buckets = r.spark.read.parquet(new File(b.engine.path, "index").getPath)
    val vectors = b.engine.vectors.select(col("id"), col("embedding")).localCheckpoint()
    val reps = 3
    var pairs = 0L
    (1 to reps).foreach { i =>
      tr.span("index.route", i) { LshForest.routeQueries(q, model, searchK).collect() }
      val cand = tr.span("index.candidates", i) {
        LshForest.candidates(q, buckets, model, searchK, vecId = "id")
          .select("query_id", "id").localCheckpoint()
      }
      pairs = cand.count()
      tr.span("ops.rerank", i) {
        graft.ops.SimSearch.rerankTopK(cand, q, vectors, K, vecId = "id").collect()
      }
    }
    // the distance kernel alone: 64 queries against every vector
    val kq = queryFrame(r.spark, b.gen.queries(64).zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .select(Distances.asDouble(col("embedding")).as("q"))
    val kv = vectors.select(Distances.asDouble(col("embedding")).as("v")).localCheckpoint()
    val nv = kv.count()
    (1 to reps).foreach { i =>
      tr.span("functions.l2sq", i) {
        kv.crossJoin(broadcast(kq)).agg(sum(Distances.l2sq(col("q"), col("v")))).collect()
      }
    }
    val cfg = b.engine.config
    val built = tr.span("index.build", 0) {
      LshForest.build(vectors,
        LshForest.Options(cfg.numTrees, cfg.maxNodeSize, cfg.seed), vecId = "id")
    }
    tr.span("index.write", 0) {
      LshForest.writeIndex(vectors, built, new File(r.work, "index-write").getPath, vecId = "id")
    }
    def med(name: String): Double = Stats.median(tr.durations(name))
    Map(
      "index.route.ms" -> med("index.route"),
      "index.candidates.ms" -> med("index.candidates"),
      "index.cand_per_result" -> pairs.toDouble / (qs.length * K),
      "ops.rerank.ms" -> med("ops.rerank"),
      "functions.l2sq.evals_per_s" -> 64.0 * nv / (med("functions.l2sq") / 1000),
      "index.build.s" -> med("index.build") / 1000,
      "index.write.s" -> med("index.write") / 1000)
  }
}
