package contestbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{AnnIndexStore, EfTuner, HnswIndex, ServingCache}
import org.apache.spark.sql.graft.AnnCatalog

/** The one file that calls into the program. Workloads and metrics
  * reach the library only through these methods, so an API change (for
  * example one `search(store, queries, spec)` entry in place of the
  * per-route search calls) edits call sites here and nothing else. */
object Program {

  // ---------------------------------------------------------- session

  def session(cpus: Int, workDir: String): SparkSession = {
    val spark = graft.GraftConf.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName("contestbench")
      .config("spark.sql.shuffle.partitions", (cpus * 2).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.driver.maxResultSize", "2g")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.VectorFunctions.register(spark)
    spark
  }

  def canary(spark: SparkSession): Seq[(String, Double)] = graft.Canary.run(spark)

  // ---------------------------------------------------------- sources

  /** Contest base/delta binary → parquet (id, label, ts, vec); returns rows. */
  def ingestBase(spark: SparkSession, bin: String, out: String, parts: Int,
      idOffset: Long = 0L): Long = {
    graft.sources.ContestBinaryIO.readBase(spark, bin, numPartitions = parts)
      .withColumn("id", col("id") + lit(idOffset))
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out).count()
  }

  /** Contest query binary → parquet (qid, qtype, v, l, r, qvec); returns rows. */
  def ingestQueries(spark: SparkSession, bin: String, out: String, parts: Int): Long = {
    graft.sources.ContestBinaryIO.readQueries(spark, bin, numPartitions = parts)
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out).count()
  }

  // ---------------------------------------------------------- stores

  def buildHash(base: DataFrame, path: String, buckets: Int): Unit =
    AnnIndexStore.build(base.select(col("id"), col("vec")), path, numBuckets = buckets)

  /** Per-label store with ts attrs: the type-1 arm and the SQL label route. */
  def buildLabel(base: DataFrame, path: String): Unit =
    AnnIndexStore.buildBy(base.select(col("id"), col("label"), col("ts"), col("vec")),
      path, "label", attrCol = Some("ts"))

  /** ts-contiguous salted per-label store: the banded type-3 arm. */
  def buildLabelTs(base: DataFrame, path: String): Unit =
    AnnIndexStore.buildBy(base.select(col("id"), col("label"), col("ts"), col("vec")),
      path, "label", attrCol = Some("ts"), attrSalted = true)

  /** ts-bucketed store (`scale` buckets): the banded type-2 arm; at
    * scale 10 it is also the SQL range route's decile store. */
  def buildRange(base: DataFrame, path: String, scale: Int): Unit =
    AnnIndexStore.buildBy(
      base.withColumn("bucket", floor(col("ts") * scale).cast("long")),
      path, "bucket", attrCol = Some("ts"))

  def buildIvf(base: DataFrame, path: String, nlist: Int): Unit =
    AnnIndexStore.buildIvf(base.select(col("id"), col("vec")), path, nlist = nlist)

  // ---------------------------------------------------------- tuners

  def tuneBands(spark: SparkSession, store: String, queries: DataFrame,
      k: Int, ef: Int): Unit =
    EfTuner.tuneAndPersistBands(spark, store, queries, k, ef)

  /** Tunes the store's nprobe; returns the probe count searches will use. */
  def tuneNprobe(spark: SparkSession, ivf: String, queries: DataFrame,
      k: Int, ef: Int): Int = {
    EfTuner.tuneAndPersistNprobe(spark, ivf, queries, k, ef)
    AnnIndexStore.resolveNprobe(ivf, AnnIndexStore.AutoNprobe)
  }

  /** Tunes the IVF walk ef at `nprobe`; returns the ef searches will use. */
  def tuneIvfEf(spark: SparkSession, ivf: String, base: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, fallbackEf: Int): Int = {
    EfTuner.tuneAndPersistIvfEf(spark, ivf, base, queries, k, nprobe = nprobe)
    AnnIndexStore.ivfEfOf(ivf).getOrElse(fallbackEf)
  }

  // ------------------------------------------------- batch search arms
  // Each returns the collected (qid, nid) pairs in rank order per qid.

  private def pairs(df: DataFrame): Array[(Long, Long)] =
    df.select(col("qid"), col("nid")).orderBy("qid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  /** Type 0: IVF list-major. */
  def searchT0(spark: SparkSession, ivf: String, q0: DataFrame, out: String,
      k: Int, ef: Int, nprobe: Int): Array[(Long, Long)] = {
    AnnIndexStore.searchIvfListMajorTo(spark, ivf,
      q0.select(col("qid"), col("qvec")), out, k, ef, nprobe = nprobe)
    pairs(spark.read.parquet(out))
  }

  /** Type 1: per-label `searchBy`. */
  def searchT1(spark: SparkSession, byLabel: String, q1: DataFrame,
      k: Int, ef: Int): Array[(Long, Long)] =
    pairs(AnnIndexStore.searchBy(spark, byLabel,
      q1.select(col("qid"), col("v"), col("qvec")), k, ef))

  /** Type 2: banded range over the ts-bucketed store. */
  def searchT2(spark: SparkSession, byRange: String, q2: DataFrame,
      k: Int, ef: Int, scale: Int): Array[(Long, Long)] =
    pairs(AnnIndexStore.searchDecileRange(spark, byRange,
      q2.select(col("qid"), col("l"), col("r"), col("qvec")), k, ef,
      scale = scale, efBands = true))

  /** Type 3: banded label+range over the salted per-label store. */
  def searchT3(spark: SparkSession, byLabelTs: String, q3: DataFrame,
      k: Int, ef: Int): Array[(Long, Long)] =
    pairs(AnnIndexStore.searchByRange(spark, byLabelTs,
      q3.select(col("qid"), col("v"), col("l"), col("r"), col("qvec")), k, ef,
      efBands = true))

  // ---------------------------------------------------------- operators

  /** Exact filtered top-k (the oracle): (qid, nid) in rank order. */
  def exact(base: DataFrame, queries: DataFrame, k: Int): Array[(Long, Long)] =
    pairs(graft.operators.KnnJoin.exactFlat(base, queries, k))

  /** Selectivity routes for the batch: route name → query count. */
  def routeHistogram(base: DataFrame, queries: DataFrame): Map[String, Long] =
    graft.operators.Selectivity.withRoutes(base, queries)
      .groupBy("route").agg(count(lit(1)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  // ---------------------------------------------------------- SQL serving

  def registerSql(basePath: String, ivf: String, byLabel: String, byRange: String,
      ef: Int): Unit =
    AnnCatalog.register(basePath, ivf, idCol = "id", vecCol = "vec", ef = ef,
      labelIndex = Some(("label", byLabel)), rangeIndex = Some(("ts", byRange)),
      trusted = true, ivfIndex = Some(ivf))

  def unregisterSql(basePath: String): Unit = AnnCatalog.unregister(basePath)

  /** `SELECT id FROM base [WHERE pred] ORDER BY l2_sq(vec, :q), id LIMIT k`
    * with the predicate of query type `qtype`. */
  def statement(spark: SparkSession, basePath: String, qtype: Int, v: Long,
      l: Double, r: Double, qvec: Array[Float], k: Int): DataFrame = {
    val base = spark.read.parquet(basePath)
    val filtered = qtype match {
      case 0 => base
      case 1 => base.filter(col("label") === v)
      case 2 => base.filter(col("ts") >= l && col("ts") <= r)
      case _ => base.filter(col("label") === v && col("ts") >= l && col("ts") <= r)
    }
    filtered.orderBy(graft.functions.VectorFunctions.l2Sq(col("vec"), typedLit(qvec)), col("id"))
      .select("id").limit(k)
  }

  /** True when the statement's physical plan is the index route. */
  def routed(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.collectFirst {
      case e: org.apache.spark.sql.graft.AnnTopKExec => e
    }.isDefined

  /** ServingCache (hits, misses, resident bytes). */
  def cacheCounters: (Long, Long, Long) =
    (ServingCache.hits.get(), ServingCache.misses.get(), ServingCache.usedBytes)

  // ---------------------------------------------------------- delta store

  def appendDelta(rows: DataFrame, path: String, batchId: Long): Unit =
    AnnIndexStore.appendDeltaBatch(rows.select(col("id"), col("vec")), path, batchId)

  def deltaFraction(spark: SparkSession, path: String): Double =
    AnnIndexStore.deltaFraction(spark, path)

  def searchWithDelta(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, ef: Int): Array[(Long, Long)] =
    pairs(AnnIndexStore.searchWithDelta(spark, path,
      queries.select(col("qid"), col("qvec")), k, ef))

  def compactDelta(spark: SparkSession, path: String, buckets: Int): Unit =
    AnnIndexStore.compactDelta(spark, path, numBuckets = buckets)

  /** (rows in the store's graphs, live rows in its delta). */
  def rowAccounting(spark: SparkSession, path: String): (Long, Long) = {
    val indexed = spark.read.parquet(AnnIndexStore.resolveStore(path))
      .agg(coalesce(sum(size(col("ids"))), lit(0L))).head().getLong(0)
    (indexed, AnnIndexStore.liveDeltaRows(spark, path))
  }

  // ---------------------------------------------------------- kernels, graph

  private val kernel = graft.simd.VectorKernels.Holder.KERNEL

  def kernelName: String = kernel.getClass.getSimpleName

  def l2sq(a: Array[Float], b: Array[Float]): Double = kernel.l2sq(a, b)

  def l2sqI8(a: Array[Byte], b: Array[Byte]): Int = kernel.l2sqI8(a, b)

  /** An empty graph quantized for `vecs`' value range, as the stores build it. */
  def hnswNew(vecs: Seq[Array[Float]]): HnswIndex = {
    val idx = new HnswIndex(vecs.head.length)
    idx.preTrain(HnswIndex.maxAbsOf(vecs.iterator))
    idx
  }

  def hnswAdd(idx: HnswIndex, v: Array[Float]): Unit = idx.add(v)

  def hnswSearch(idx: HnswIndex, q: Array[Float], k: Int, ef: Int): Int =
    idx.search(q, k, ef).length

  def hnswBytes(idx: HnswIndex): Array[Byte] = idx.toBytes

  def hnswFromBytes(bytes: Array[Byte]): Int = HnswIndex.fromBytes(bytes).size
}
