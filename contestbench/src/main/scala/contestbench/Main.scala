package contestbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Runs one workload against the program and writes every raw
  * measurement (timing samples, counters, checks, spans, per-operation
  * Spark work, run context) to one JSON file. run.py starts it, turns
  * the raw samples into metrics and prints the result line.
  *
  *   Main <workload> <seconds> <trace 0|1> <inputDir> <workDir> <outFile>
  */
object Main {

  /** Spark `local[Cpus]`: the machine the benchmark is sized for. */
  val Cpus = 4

  final case class Conf(workload: String, seconds: Double, trace: Boolean,
      input: String, work: String, out: String)

  /** Raw measurements of one run. */
  final class Recorder {
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val values = mutable.LinkedHashMap.empty[String, Any]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L

    def add(name: String, v: Double): Unit =
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v

    def check(name: String, ok: Boolean, detail: String): Unit = {
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
      if (!ok) System.err.println(s"CHECK FAILED $name: $detail")
    }

    /** One attempted operation; a throw or a failed output check counts
      * it failed. Its time is recorded either way by the caller. */
    def attempt[T](what: String)(f: => T)(ok: T => Option[String]): Option[T] = {
      attempted += 1
      val r = try Some(f) catch {
        case NonFatal(e) =>
          fail(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
      r.flatMap(ok).foreach(msg => fail(s"$what: $msg"))
      r
    }

    private def fail(msg: String): Unit = {
      failed += 1
      if (failures.length < 20) failures += msg
      System.err.println(s"FAILED $msg")
    }
  }

  private val started = System.nanoTime()

  /** Progress line on stderr, seconds since the JVM's main started. */
  def phase(what: String): Unit =
    System.err.println(f"PHASE ${(System.nanoTime() - started) / 1e9}%7.2f s $what")

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def main(args: Array[String]): Unit = {
    require(args.length == 6, "usage: Main <workload> <seconds> <trace> <input> <work> <out>")
    val c = Conf(args(0), args(1).toDouble, args(2) == "1", args(3), args(4), args(5))
    phase("start")
    val spark = Program.session(Cpus, c.work)
    phase("session")
    val tracer = new Tracer(spark.sparkContext)
    val rec = new Recorder
    try {
      val context = runContext(spark, withCanary = c.trace)
      phase("context")
      if (c.trace) tracer.enable()
      val w = new Workloads(spark, c, tracer, rec)
      c.workload match {
        case "contest-batch" => w.contestBatch()
        case "sql-serving" => w.sqlServing()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      phase("workload done")
      tracer.disable()
      rec.values("jvm.heap_peak_mb") = heapPeakMb()
      val out = Map(
        "workload" -> c.workload, "trace" -> c.trace, "context" -> context,
        "samples" -> rec.samples.map { case (k, v) => k -> v.toSeq },
        "values" -> rec.values, "checks" -> rec.checks.toSeq,
        "attempted" -> rec.attempted, "failed" -> rec.failed,
        "failures" -> rec.failures.toSeq,
        "spans" -> tracer.spanRows, "ops" -> tracer.opRows)
      new com.fasterxml.jackson.databind.ObjectMapper()
        .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
        .writeValue(new File(c.out), out)
    } finally spark.stop()
  }

  private def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** Machine size, heap, every program knob in effect, and (in traced
    * runs) the program's fixed-work canary. The canary costs about nine
    * seconds, a sixth of an untraced run, so untraced runs skip it. */
  private def runContext(spark: SparkSession, withCanary: Boolean): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    val env = sys.env.filter(_._1.startsWith("GRAFT_"))
    val props = System.getProperties.asScala.filter(_._1.startsWith("graft.")).toMap
    val confs = spark.conf.getAll.filter(_._1.startsWith("spark.graft."))
    val (canary, canaryS) =
      if (withCanary) timed(Program.canary(spark).toMap) else (Map.empty[String, Double], 0.0)
    Map("canary" -> canary, "canary_s" -> canaryS,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "kernel" -> Program.kernelName,
      "env" -> env, "props" -> props, "confs" -> confs,
      "non_default_knobs" -> (env.keys ++ props.keys ++ confs.keys).toSeq.sorted)
  }
}

/** The workloads. Every call into the program goes through
  * [[Program]]; each is wrapped in a span named `<layer>.<call>`. */
final class Workloads(spark: SparkSession, c: Main.Conf, tr: Tracer, rec: Main.Recorder) {
  import Main.{dirBytes, timed}

  private val k = 100
  private val ef = 400
  private val cpus = Main.Cpus
  private val rangeScale = 10
  // IVF lists: base/1000, so a query's top-k sits in one list (README, Inputs)
  private val nlist = 4
  // recall@k floor of every type and of the fresh delta search
  private val recallFloor = 0.9
  // the recall sample: the first qids, every type and window width alike
  private val recallSample = 128
  // sql-serving: statements cycled by the closed-loop client
  private val statements = 16
  // delta probe: micro-batches of `batchRows`, folded when the delta
  // fraction reaches `foldAt` (after the second batch: 800 of 4,000 rows)
  private val deltaCycles = 2
  private val batchRows = 400
  private val foldAt = 0.15
  private val freshQueries = 64

  // ---------------------------------------------------------- shared

  private def ingest(dir: String): Ingested = {
    val (rows, s) = timed {
      val n = tr.span("sources.ingest_base") {
        Program.ingestBase(spark, s"${c.input}/base.bin", s"$dir/base", cpus * 2)
      }
      tr.span("sources.ingest_queries") {
        Program.ingestQueries(spark, s"${c.input}/query.bin", s"$dir/queries", cpus)
      }
      n
    }
    rec.add("sources.ingest_s", s)
    Ingested(s"$dir/base", s"$dir/queries", rows)
  }

  private def build(name: String, path: String)(f: => Unit): String = {
    val (_, s) = timed(tr.span(s"store.build.$name")(f))
    rec.add(s"store.build_s.$name", s)
    rec.values(s"store.bytes.$name") = dirBytes(new File(path))
    path
  }

  /** One set-up from scratch; its wall is `setup_s`. */
  private def setUp[T](f: String => T): T = {
    val (r, s) = timed(tr.op("setup")(f(s"${c.work}/setup")))
    rec.values("setup_s") = s
    Main.phase("setup")
    r
  }

  private def storeBytesRatio(stores: Seq[String], rows: Long, dim: Int): Unit = {
    val bytes = stores.map(p => dirBytes(new File(p))).sum
    rec.values("store_bytes_ratio") = bytes.toDouble / (rows * dim * 4L)
  }

  private def load(path: String): DataFrame = spark.read.parquet(path)

  /** Repeats `rep` until `c.seconds` have passed, at least once. In a
    * traced run repetitions alternate in groups of `period` between traced
    * and untraced; the untraced ones are the baseline the tracing overhead
    * is measured against. Samples of traced repetitions carry a `traced:`
    * prefix. */
  private def timedLoop(period: Int = 1)(rep: String => Unit): Unit = {
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    var i = 0
    // a traced run needs one untraced repetition to measure the overhead against
    val minReps = if (c.trace) period + 1 else 1
    while (i < minReps || System.nanoTime() < deadline) {
      val traced = c.trace && i / period % 2 == 0
      if (traced) tr.enable() else tr.disable()
      rep(if (traced) "traced:" else "")
      i += 1
    }
    if (c.trace) tr.enable() else tr.disable()
    rec.values("reps") = i
    Main.phase(s"timed phase: $i repetitions")
  }

  /** (qid → row count it should get) from the filtered exact match counts. */
  private def expectedCounts(base: DataFrame, queries: Array[Query]): Map[Long, Int] = {
    val rows = base.select(col("label"), col("ts")).collect()
    val label = rows.map(_.getLong(0))
    val ts = rows.map(_.getDouble(1))
    queries.map { q =>
      var m = 0
      var i = 0
      while (i < label.length && m < k) {
        val ok = q.qtype match {
          case 0 => true
          case 1 => label(i) == q.v
          case 2 => ts(i) >= q.l && ts(i) <= q.r
          case _ => label(i) == q.v && ts(i) >= q.l && ts(i) <= q.r
        }
        if (ok) m += 1
        i += 1
      }
      q.qid -> m
    }.toMap
  }

  /** Rows the answer should have per qid vs rows it has. */
  private def unanswered(got: Array[(Long, Long)], want: Map[Long, Int]): Option[String] = {
    val have = got.groupBy(_._1).map { case (q, rs) => q -> rs.length }
    val bad = want.filter { case (q, n) => have.getOrElse(q, 0) != n }
    if (bad.isEmpty) None
    else Some(s"${bad.size} of ${want.size} qids answered with the wrong row count " +
      s"(e.g. qid ${bad.head._1}: ${have.getOrElse(bad.head._1, 0)} rows, want ${bad.head._2})")
  }

  /** Mean recall@k per type over `sample` (qids), plus the all-type mean. */
  private def recall(sample: Array[Query], approx: Map[Long, Array[Long]],
      exact: Map[Long, Array[Long]]): Unit = {
    val per = sample.flatMap { q =>
      exact.get(q.qid).filter(_.nonEmpty).map { want =>
        val got = approx.getOrElse(q.qid, Array.empty[Long]).toSet
        (q.qtype, want.count(got.contains).toDouble / want.length)
      }
    }
    rec.values("recall_at_100") = per.map(_._2).sum / math.max(1, per.length)
    rec.values("recall_sample") = per.length
    per.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (t, rs) =>
      val r = rs.map(_._2).sum / rs.length
      rec.values(s"recall_at_100.t$t") = r
      rec.check(s"recall_floor.t$t", r >= recallFloor,
        f"recall@$k $r%.4f over ${rs.length} queries, floor $recallFloor")
    }
  }

  private def grouped(pairs: Array[(Long, Long)]): Map[Long, Array[Long]] =
    pairs.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2) }

  private def oracle(base: DataFrame, queries: DataFrame): Map[Long, Array[Long]] = {
    val (ex, s) = timed(tr.span("operators.exact")(Program.exact(base, queries, k)))
    rec.values("operators.oracle_s") = s
    grouped(ex)
  }

  private def queriesOf(path: String): Array[Query] =
    load(path).select("qid", "qtype", "v", "l", "r", "qvec").orderBy("qid").collect()
      .map(r => Query(r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getSeq[Float](5).toArray))

  // ---------------------------------------------------- layer probes

  /** Kernel and graph speed on the workload's own vectors (traced runs). */
  private def layerProbes(basePath: String): Unit = {
    val vecs = load(basePath).select("vec").limit(2048).collect().map(_.getSeq[Float](0).toArray)
    val n = vecs.length
    val maxAbs = vecs.iterator.flatMap(_.iterator).map(x => math.abs(x)).max
    val codes = vecs.map(_.map(x => math.round(x / maxAbs * 127f).toByte))
    def perCall(calls: Int)(f: Int => Double): Double = {
      var sink = 0.0
      var i = 0
      while (i < calls) { sink += f(i % (n - 1)); i += 1 } // warm-up
      val t0 = System.nanoTime()
      i = 0
      while (i < calls) { sink += f(i % (n - 1)); i += 1 }
      val ns = (System.nanoTime() - t0).toDouble / calls
      if (sink == -1.0) println("unreachable")
      ns
    }
    rec.values("simd.l2sq_ns") = tr.span("simd.l2sq")(perCall(2000000)(i => Program.l2sq(vecs(i), vecs(i + 1))))
    rec.values("simd.l2sq_i8_ns") =
      tr.span("simd.l2sq_i8")(perCall(2000000)(i => Program.l2sqI8(codes(i), codes(i + 1)).toDouble))
    val buildVecs = vecs.take(2000).toSeq
    val idx = Program.hnswNew(buildVecs)
    val (_, addS) = timed(tr.span("hnsw.add")(buildVecs.foreach(v => Program.hnswAdd(idx, v))))
    rec.values("hnsw.add_us") = addS * 1e6 / buildVecs.length
    val queries = vecs.takeRight(256)
    val (_, searchS) = timed(tr.span("hnsw.search") {
      queries.foreach(q => Program.hnswSearch(idx, q, k, ef))
    })
    rec.values("hnsw.search_us") = searchS * 1e6 / queries.length
    val bytes = Program.hnswBytes(idx)
    val deser = (0 until 5).map(_ => timed(tr.span("hnsw.deser")(Program.hnswFromBytes(bytes)))._2 * 1e3)
    rec.values("hnsw.deser_ms") = deser.sorted.apply(2)
  }

  private def cacheWindow[T](f: => T): T = {
    val (h0, m0, _) = Program.cacheCounters
    val r = f
    val (h1, m1, used) = Program.cacheCounters
    rec.values("cache.hits") = h1 - h0
    rec.values("cache.misses") = m1 - m0
    rec.values("cache.used_mb") = used / 1048576.0
    r
  }

  // ---------------------------------------------------- contest-batch

  private def contestSetup(dir: String): ContestStores = {
    val in = ingest(dir)
    val base = load(in.base)
    val queries = load(in.queries)
    val byLabel = build("label", s"$dir/by_label")(Program.buildLabel(base, s"$dir/by_label"))
    val byLabelTs = build("label_ts", s"$dir/by_label_ts")(Program.buildLabelTs(base, s"$dir/by_label_ts"))
    val byRange = build("range", s"$dir/by_range")(Program.buildRange(base, s"$dir/by_range", rangeScale))
    val (_, bandsS) = timed(tr.span("tuner.bands") {
      Program.tuneBands(spark, byLabelTs, queries, k, ef)
      Program.tuneBands(spark, byRange, queries, k, ef)
    })
    rec.add("tuner.bands_s", bandsS)
    val ivf = build("ivf", s"$dir/by_ivf")(Program.buildIvf(base, s"$dir/by_ivf", nlist))
    val (nprobe, npS) = timed(tr.span("tuner.nprobe")(Program.tuneNprobe(spark, ivf, queries, k, ef)))
    rec.add("tuner.nprobe_s", npS)
    val (ivfEf, efS) = timed(tr.span("tuner.ivf_ef") {
      Program.tuneIvfEf(spark, ivf, base, queries, k, nprobe, ef)
    })
    rec.add("tuner.ivf_ef_s", efS)
    rec.values("tuner.nprobe_chosen") = nprobe
    rec.values("tuner.ivf_ef_chosen") = ivfEf
    rec.values("tuner.nlist") = nlist
    ContestStores(in, byLabel, byLabelTs, byRange, ivf, nprobe, ivfEf)
  }

  def contestBatch(): Unit = {
    val st = setUp(contestSetup)
    storeBytesRatio(Seq(st.byLabel, st.byLabelTs, st.byRange, st.ivf), st.in.rows, 100)
    val base = load(st.in.base)
    val queries = load(st.in.queries)
    val qs = queriesOf(st.in.queries)
    val want = expectedCounts(base, qs)
    val byType = (0 to 3).map(t => t -> qs.filter(_.qtype == t).map(_.qid).toSet).toMap
    val typed = (0 to 3).map(t => load(st.in.queries).filter(col("qtype") === t)).toArray
    /** One full batch: the routing stats pass, then each type's search arm. */
    def batch(p: String): Map[Long, Array[Long]] = {
      val t0 = System.nanoTime()
      var answers = Map.empty[Long, Array[Long]]
      tr.op("batch") {
        val (routes, routeS) = timed(tr.span("operators.route")(Program.routeHistogram(base, queries)))
        rec.add(p + "operators.route_s", routeS)
        routes.foreach { case (r, n) => rec.values(s"operators.route.$r") = n }
        (0 to 3).foreach { t =>
          val s0 = System.nanoTime()
          val got = rec.attempt(s"type-$t batch call") {
            tr.span(s"store.search.t$t") {
              t match {
                case 0 => Program.searchT0(spark, st.ivf, typed(0), s"${c.work}/out_t0",
                  k, st.ivfEf, st.nprobe)
                case 1 => Program.searchT1(spark, st.byLabel, typed(1), k, ef)
                case 2 => Program.searchT2(spark, st.byRange, typed(2), k, ef, rangeScale)
                case _ => Program.searchT3(spark, st.byLabelTs, typed(3), k, ef)
              }
            }
          }(got => unanswered(got, want.filter(kv => byType(t)(kv._1))))
          rec.add(p + s"stmt_ms.t$t", (System.nanoTime() - s0) / 1e6)
          got.foreach(g => answers ++= grouped(g))
        }
      }
      // the batch is the request a contest user waits for
      val wall = (System.nanoTime() - t0) / 1e9
      rec.add(p + "stmt_ms", wall * 1e3)
      rec.add(p + "batch_qps", qs.length / wall)
      answers
    }
    // two untimed batches first: the first takes about twice a warm one,
    // the second still runs ~20% slow; the first's answers are the ones
    // checked for recall
    val firstAnswers = batch("warm:")
    batch("warm:")
    rec.samples.keys.filter(_.startsWith("warm:")).toSeq.foreach(rec.samples.remove)
    timedLoop()(p => batch(p))
    (0 to 3).foreach(t => rec.values(s"queries.t$t") = byType(t).size)
    rec.values("queries") = qs.length
    val sample = qs.filter(_.qid < recallSample)
    val exact = oracle(base, queries.filter(col("qid") < recallSample))
    recall(sample, firstAnswers, exact)
    if (c.trace) {
      layerProbes(st.in.base)
      deltaProbe(st.in)
    }
  }

  // ---------------------------------------------------- sql-serving

  private def sqlSetup(dir: String): SqlStores = {
    val in = ingest(dir)
    val base = load(in.base)
    val queries = load(in.queries)
    val ivf = build("ivf", s"$dir/by_ivf")(Program.buildIvf(base, s"$dir/by_ivf", nlist))
    val byLabel = build("label", s"$dir/by_label")(Program.buildLabel(base, s"$dir/by_label"))
    val byRange = build("range", s"$dir/by_range")(Program.buildRange(base, s"$dir/by_range", rangeScale))
    val (nprobe, npS) = timed(tr.span("tuner.nprobe")(Program.tuneNprobe(spark, ivf, queries, k, ef)))
    rec.add("tuner.nprobe_s", npS)
    rec.values("tuner.nprobe_chosen") = nprobe
    rec.values("tuner.nlist") = nlist
    SqlStores(in, ivf, byLabel, byRange)
  }

  def sqlServing(): Unit = {
    val st = setUp(sqlSetup)
    storeBytesRatio(Seq(st.ivf, st.byLabel, st.byRange), st.in.rows, 100)
    val base = load(st.in.base)
    val stmts = queriesOf(st.in.queries).take(statements)
    val want = expectedCounts(base, stmts)
    Program.registerSql(st.in.base, st.ivf, st.byLabel, st.byRange, ef)
    /** One statement: (routed, answer ids), failing when it throws. */
    def statement(q: Query, p: String): (Boolean, Array[Long]) = {
      val df = tr.span("sql.statement") {
        Program.statement(spark, st.in.base, q.qtype, q.v, q.l, q.r, q.qvec, k)
      }
      val (isRouted, planS) = timed(tr.span("ann_topk.plan")(Program.routed(df)))
      val (ids, execS) = timed(tr.span("ann_topk.exec")(df.collect().map(_.getLong(0))))
      rec.add(p + "ann_topk.plan_ms", planS * 1e3)
      rec.add(p + "ann_topk.exec_ms", execS * 1e3)
      rec.add(p + "ann_topk.routed", if (isRouted) 1.0 else 0.0)
      (isRouted, ids)
    }
    def wrong(q: Query, r: (Boolean, Array[Long])): Option[String] =
      if (!r._1) Some("plan fell back to the exact scan (no AnnTopKExec)")
      else if (r._2.length != want(q.qid)) Some(s"${r._2.length} rows, want ${want(q.qid)}")
      else None
    // two untimed warm passes: the first fills the serving cache for every
    // statement, the second lets the JIT settle; the first pass's answers
    // are the fixed recall sample (the timed loop may not reach every
    // statement)
    val warm = tr.span("bench.warm") {
      val first = stmts.map(q => q -> statement(q, "warm:"))
      stmts.foreach(q => statement(q, "warm:"))
      first
    }
    val warmWrong = warm.flatMap { case (q, r) => wrong(q, r).map(m => s"qid ${q.qid}: $m") }
    rec.check("warm_pass", warmWrong.isEmpty, s"${warmWrong.length} warm statements wrong " +
      warmWrong.headOption.getOrElse(""))
    rec.samples.keys.filter(_.startsWith("warm:")).toSeq.foreach(rec.samples.remove)
    var i = 0
    val t0 = System.nanoTime()
    cacheWindow {
      // four consecutive statements cover the four types
      timedLoop(period = 4) { p =>
        val q = stmts(i % stmts.length)
        val s0 = System.nanoTime()
        tr.op("stmt") {
          rec.attempt(s"type-${q.qtype} statement qid ${q.qid}")(statement(q, p))(wrong(q, _))
        }
        val ms = (System.nanoTime() - s0) / 1e6
        rec.add(p + "stmt_ms", ms)
        rec.add(p + s"stmt_ms.t${q.qtype}", ms)
        i += 1
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    rec.values("statements") = i
    rec.values("batch_qps") = i / wall
    Program.unregisterSql(st.in.base)
    val queries = load(st.in.queries)
    val sampleIds = stmts.map(_.qid)
    val exact = oracle(base, queries.filter(col("qid") < sampleIds.max + 1))
    recall(stmts, warm.map { case (q, r) => q.qid -> r._2 }.toMap, exact)
    if (c.trace) layerProbes(st.in.base)
  }

  // ---------------------------------------------------- delta probe

  /** The store's write path, measured in traced contest-batch runs: one
    * hash store over the base, then `deltaCycles` micro-batches of
    * `batchRows` delta rows, each followed by a fresh search of a fixed
    * type-0 query batch, folding when the delta fraction reaches
    * `foldAt` (the DeltaIngestProbe lifecycle). Checks exact row
    * accounting, self-recall@1 of appended rows and recall@k of the
    * last fresh search against the exact scan of base plus appended rows. */
  private def deltaProbe(in: Ingested): Unit = {
    val dir = s"${c.work}/delta_probe"
    val base = load(in.base)
    val (deltaRows, ingestS) = timed(tr.span("sources.ingest_delta") {
      Program.ingestBase(spark, s"${c.input}/delta.bin", s"$dir/delta", cpus, idOffset = in.rows)
    })
    rec.values("sources.ingest_delta_s") = ingestS
    val store = build("hash", s"$dir/by_hash")(Program.buildHash(base, s"$dir/by_hash", cpus))
    val delta = load(s"$dir/delta")
    val cycles = deltaCycles
    require(deltaRows >= cycles.toLong * batchRows, s"delta.bin holds $deltaRows rows")
    val qb = load(in.queries).filter(col("qtype") === 0).orderBy("qid")
      .limit(freshQueries).cache()
    val want = qb.select("qid").collect().map(_.getLong(0) -> k).toMap
    var folds = 0
    (0 until cycles).foreach { b =>
      tr.op("delta_cycle") {
        val lo = in.rows + b.toLong * batchRows
        val rows = delta.filter(col("id") >= lo && col("id") < lo + batchRows)
        val (_, appendS) = timed(rec.attempt(s"append batch $b") {
          tr.span("store.append")(Program.appendDelta(rows, store, b.toLong))
        }(_ => None))
        rec.add("store.append_ms", appendS * 1e3)
        val (_, searchS) = timed(rec.attempt(s"fresh search after batch $b") {
          tr.span("store.search_with_delta")(Program.searchWithDelta(spark, store, qb, k, ef))
        }(got => unanswered(got, want)))
        rec.add("store.search_with_delta_ms", searchS * 1e3)
        val (frac, fracS) = timed(tr.span("store.delta_fraction")(Program.deltaFraction(spark, store)))
        rec.add("store.delta_fraction_ms", fracS * 1e3)
        if (frac >= foldAt) {
          val (_, foldS) = timed(rec.attempt(s"fold after batch $b") {
            tr.span("store.compact")(Program.compactDelta(spark, store, cpus))
          }(_ => None))
          rec.add("store.compact_s", foldS)
          folds += 1
        }
      }
    }
    rec.check("delta.folded", folds > 0, s"$folds folds in $cycles cycles")
    val appended = cycles.toLong * batchRows
    val (indexed, live) = Program.rowAccounting(spark, store)
    rec.check("delta.row_accounting", indexed + live == in.rows + appended,
      s"indexed $indexed + delta $live, want ${in.rows + appended}")
    val upTo = delta.filter(col("id") < in.rows + appended)
    val stride = math.max(1L, appended / 64)
    val probes = upTo.filter((col("id") - in.rows) % stride === 0)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val self = Program.searchWithDelta(spark, store, probes, 1, ef)
    val nProbes = probes.count()
    val found = self.count { case (q, n) => q == n }
    rec.check("delta.self_recall_at_1", found == nProbes,
      s"$found of $nProbes appended rows found themselves at rank 1")
    val approx = grouped(Program.searchWithDelta(spark, store, qb, k, ef))
    val exact = grouped(Program.exact(base.unionByName(upTo), qb, k))
    val per = want.keys.toSeq.map { q =>
      val e = exact(q)
      e.count(approx.getOrElse(q, Array.empty[Long]).toSet.contains).toDouble / e.length
    }
    val r = per.sum / per.length
    rec.values("store.delta_recall_at_100") = r
    rec.check("delta.recall_floor", r >= recallFloor,
      f"fresh-search recall@$k $r%.4f over ${per.length} queries, floor $recallFloor")
  }
}

final case class Query(qid: Long, qtype: Int, v: Long, l: Double, r: Double, qvec: Array[Float])

/** Parquet paths of one set-up's ingested base and queries. */
final case class Ingested(base: String, queries: String, rows: Long)

final case class ContestStores(in: Ingested, byLabel: String, byLabelTs: String,
    byRange: String, ivf: String, nprobe: Int, ivfEf: Int)

final case class SqlStores(in: Ingested, ivf: String, byLabel: String, byRange: String)
