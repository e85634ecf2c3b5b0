package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, reverse, substring}
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.functions.GraftFunctions
import graft.sources.{CatalogStore, DedupIndex, FreqStore}

/** Layer probes of the traced run: each layer called on its own, on
  * fixed inputs, so its cost is known apart from the queries that use it.
  * Every call is a span (kind "probe") whose attributes carry the work
  * done; `report.py` turns them into rates.
  */
object Probes {
  private val Reps = 3
  /** Copies of the documents and embeddings tables in the kernel inputs. */
  private val Copies = 20

  def run(ctx: Ctx, stores: Map[String, String], queryLayers: Boolean): Unit = {
    if (queryLayers) {
      tables(ctx)
      kernels(ctx)
    }
    stores.toSeq.sortBy(_._1).foreach { case (s, dir) => storeRead(ctx, s, dir) }
  }

  private def timed(ctx: Ctx, name: String, attrs: Map[String, Any])(f: => Unit): Unit =
    ctx.tracer.span(name, "probe", attrs) { id =>
      ctx.spark.sparkContext.setJobGroup(s"perfbench-$id", name, interruptOnCancel = false)
      try f finally ctx.spark.sparkContext.clearJobGroup()
    }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** `Tables` accessors: a load resolves the parquet file and its schema. */
  private def tables(ctx: Ctx): Unit = {
    val loads: Seq[(String, Tables => DataFrame)] = Seq(
      "region" -> (_.region), "nation" -> (_.nation), "customer" -> (_.customer),
      "supplier" -> (_.supplier), "part" -> (_.part), "orders" -> (_.orders),
      "lineitem" -> (_.lineitem), "events" -> (_.events), "documents" -> (_.documents),
      "embeddings" -> (_.embeddings))
    for (_ <- 0 until Reps; (table, load) <- loads)
      timed(ctx, "tables.load", Map("table" -> table))(load(Tables(ctx.spark, ctx.data)))
  }

  /** The public `GraftFunctions` columns over fixed, persisted inputs. */
  private def kernels(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t = Tables(spark, ctx.data)
    val copies = spark.range(Copies).withColumnRenamed("id", "copy")
    val docs = copies.crossJoin(t.documents.select(col("text")))
      .select(col("text"), substring(col("text"), 1, 256).as("a"),
        substring(reverse(col("text")), 1, 256).as("b"))
      .persist(StorageLevel.MEMORY_ONLY)
    val vecs = copies.crossJoin(t.embeddings.select(col("embedding")))
      .select(col("embedding").as("u"), reverse(col("embedding")).as("v"))
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      val (nDocs, nVecs) = (docs.count(), vecs.count())
      val cases: Seq[(String, DataFrame, Long)] = Seq(
        ("functions.minhash_sigs", docs.select(GraftFunctions.minhash_sigs(col("text"), 8)), nDocs),
        ("functions.simhash64", docs.select(GraftFunctions.simhash64(col("text"))), nDocs),
        ("functions.shingle_set", docs.select(GraftFunctions.shingle_set(col("text"))), nDocs),
        ("functions.levenshtein_bp",
          docs.select(GraftFunctions.levenshtein_bp(col("a"), col("b"))), nDocs),
        ("functions.cosine_sim", vecs.select(GraftFunctions.cosine_sim(col("u"), col("v"))), nVecs))
      for (_ <- 0 until Reps; (name, df, n) <- cases)
        timed(ctx, name, Map("rows" -> n))(noop(df))
    } finally {
      docs.unpersist()
      vecs.unpersist()
    }
  }

  /** One full read of a store's current view. */
  private def storeRead(ctx: Ctx, store: String, dir: String): Unit = {
    val spark = ctx.spark
    val reads: Seq[DataFrame] = store match {
      case "catalog" => Seq(CatalogStore.read(spark, dir))
      case "freq"    => Seq(FreqStore.frequencies(spark, dir))
      case "windoc"  => Seq(FreqStore.counts(spark, dir))
      case "dedup"   =>
        Seq(DedupIndex.hashes(spark, dir), DedupIndex.sigs(spark, dir), DedupIndex.windows(spark, dir))
    }
    for (_ <- 0 until Reps)
      timed(ctx, s"sources.$store.read", Map("store" -> store))(reads.foreach(noop))
  }

  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }

  /** On-disk size of the stores and their bytes per byte of input. */
  def storeCounters(spark: SparkSession, stores: Map[String, String], inputBytes: Long)
      : Map[String, Any] = {
    val bytes = stores.values.map(dirBytes).sum
    Map(
      "sources.disk_mb" -> bytes / 1e6,
      "sources.bytes_written_per_input_byte" -> bytes.toDouble / math.max(1L, inputBytes))
  }

  /** Peak heap over the run and what Spark holds cached at its end. */
  def memory(spark: SparkSession): Map[String, Any] = {
    val peak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    val cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    Map("mem.heap_peak_mb" -> peak / 1e6, "mem.cached_mb" -> cached / 1e6)
  }
}
