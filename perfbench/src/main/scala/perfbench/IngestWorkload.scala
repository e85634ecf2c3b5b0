package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.hadoop.fs.Path

import graft.Tables
import graft.sources.{CatalogStore, DedupIndex, FreqStore}
import graft.streaming.ImportPipeline

/** Ingest: seeded batches of STAC documents flow through one long-running
  * `ImportPipeline.start` query that validates them, verifies their asset
  * checksums, splits accepted from quarantined, publishes to the
  * CatalogStore and maintains a DedupIndex and a unigram FreqStore, folding
  * each store's chain once it exceeds `MaxChain` versions — so with
  * MaxChain = 3 one batch in three compacts.
  *
  * Closed loop: batch k+1 is staged only after batch k commits; a pass is
  * one compaction cycle of `MaxChain` batches. After each batch the
  * client makes `LookupRounds` rounds of catalog lookups (get of a key
  * the batch touched, a get that must 404, and find-by-title). Every
  * document's fate is planted by the generator: rule-invalid ids or
  * versions, corrupt checksums and missing payloads, so the
  * accept/quarantine split, the catalog read-back and each lookup are
  * checked against known truth.
  */
final class IngestWorkload(ctx: Ctx) extends Workload {
  import IngestWorkload._
  import ctx.spark

  private val root = s"${ctx.work}/ingest"
  private val dirs = Map(
    "catalog" -> s"$root/catalog", "dedup" -> s"$root/dedup", "freq" -> s"$root/freq")
  override val stores: Map[String, String] = dirs

  /** The generator's truth: dataset_key -> (title, revision). */
  private val truth = mutable.Map.empty[String, (String, Long)]
  private var query: StreamingQuery = _
  private var batches = 0
  private val versions = mutable.Map.empty[String, Seq[Long]]
  private val chain = mutable.Map.empty[String, Int]
  private var compactions = 0
  private var inputBytes = 0L
  private var bytesAtStart = 0L
  private var docsIn = 0L
  private var docsAccepted = 0L

  override def setupSteps: Seq[(String, () => Unit)] = Seq(
    "stores" -> (() => provision()),
    "caches" -> (() => startPipeline()))

  private def provision(): Unit = {
    import spark.implicits._
    (0 until InitialDatasets).foreach(i => truth(s"ds-$i") = (s"Dataset ds-$i r1", 1L))
    val base = truth.toSeq.map { case (k, (t, r)) => (k, t, r) }
      .toDF("dataset_key", "title", "revision")
    val docs = Tables(spark, ctx.data).documents.select(col("doc_id"), col("source"), col("text"))
    Parallel.map(dirs.keys.toSeq, ctx.cores) {
      case "catalog" => CatalogStore.init(spark, dirs("catalog"), base)
      case "dedup"   => DedupIndex.init(spark, dirs("dedup"), docs, bands = 8, windowK = 8)
      case _         => FreqStore.init(spark, dirs("freq"), docs)
    }
    new java.io.File(s"$root/in").mkdirs()
    dirs.keys.foreach { s => versions(s) = listVersions(s); chain(s) = 1 }
    // the validation rules, as a rules file (graft.stac.rulesPath): the
    // core STAC keywords, without the closed-key rules that would reject
    // the `assets` object every generated document carries
    val rules = s"$root/rules.jsonl"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(rules), Seq(
      """{"rule_id":1,"field":"id","kind":"required","arg":""}""",
      """{"rule_id":2,"field":"id","kind":"pattern","arg":"^item-[0-9]+$"}""",
      """{"rule_id":3,"field":"stac_version","kind":"required","arg":""}""",
      """{"rule_id":4,"field":"stac_version","kind":"enum","arg":"1.0.0|0.9.0"}""",
      """{"rule_id":5,"field":"type","kind":"enum","arg":"Catalog|Collection|Feature"}""")
      .mkString("\n"))
    spark.conf.set("graft.stac.rulesPath", rules)
  }

  // ---- the generator ----

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  private def payload(id: Long): Array[Byte] = s"payload ${ctx.seed} $id".getBytes("UTF-8")
  private def href(id: Long): String = s"s3://staging/$id/data.tif"

  private def docId(k: Int, i: Int): Long = 1000000L + k.toLong * BatchDocs + i

  /** Batch k's planted fates, from their own seeded stream so the staging
    * area can be built before the batches themselves.
    */
  private def fates(k: Int): IndexedSeq[Fate] = {
    val rnd = new Random(ctx.seed * 7919L + k)
    IndexedSeq.fill(BatchDocs) {
      val u = rnd.nextDouble()
      if (u < 0.10) BadRule else if (u < 0.16) BadChecksum
      else if (u < 0.20) MissingPayload else Valid
    }
  }

  /** Batch k's documents, drawn from the seed and the truth so far. */
  private def generate(k: Int): Seq[Doc] = {
    val rnd = new Random(ctx.seed * 7927L + k)
    val existing = rnd.shuffle(truth.keys.toIndexedSeq.sorted).iterator
    fates(k).zipWithIndex.map { case (fate, i) =>
      val id = docId(k, i)
      val (key, rev) =
        if (rnd.nextDouble() < 0.3 && existing.hasNext) {
          val key = existing.next(); (key, truth(key)._2 + 1)
        } else (s"ds-$id", 1L)
      val title = s"Dataset $key r$rev"
      val idField = if (fate == BadRule && i % 2 == 0) s"Item_$id" else s"item-$id"
      val version = if (fate == BadRule && i % 2 == 1) "2.0.0" else "1.0.0"
      val checksum = "1220" + sha256(
        if (fate == BadChecksum) s"tampered ${ctx.seed} $id".getBytes("UTF-8") else payload(id))
      val words = Seq.fill(12 + rnd.nextInt(28))(Vocabulary(rnd.nextInt(Vocabulary.size)))
      val json =
        s"""{"id":"$idField","stac_version":"$version","type":"Feature",""" +
          s""""description":"${words.mkString(" ")}",""" +
          s""""assets":{"data":{"href":"${href(id)}","file:checksum":"$checksum"}}}"""
      Doc(id, key, title, rev, fate, json)
    }
  }

  private var pending: Seq[Doc] = Nil

  private def startPipeline(): Unit = {
    import spark.implicits._
    // the staging area's payloads for every document the run can stage;
    // a MissingPayload document's asset is absent on purpose
    val staging = (0 until MaxBatches).flatMap { k =>
      fates(k).zipWithIndex.collect { case (f, i) if f != MissingPayload => docId(k, i) }
    }.map(id => (href(id), payload(id))).toDF("href", "payload").cache()
    staging.count()
    query = ImportPipeline.start(
      spark,
      sourceDir = s"$root/in", catalogDir = dirs("catalog"),
      acceptedDir = s"$root/accepted", quarantineDir = s"$root/quarantine",
      checkpointDir = s"$root/checkpoint",
      assetPayloads = Some(staging),
      trigger = Trigger.ProcessingTime(0L),
      maintain = ImportPipeline.MaintainedIndexes(
        dedupIndexDir = Some(dirs("dedup")),
        freqStoreDirs = Seq(dirs("freq")),
        maxChain = MaxChain),
      assetLakeDir = Some(s"$root/assets"))
    bytesAtStart = Probes.dirBytes(root)
  }

  private def stage(docs: Seq[Doc]): Unit = {
    import spark.implicits._
    val tmp = s"$root/staging/b$batches"
    docs.map(d => (d.id, d.key, d.title, d.rev, d.json))
      .toDF("doc_id", "dataset_key", "title", "revision", "j")
      .coalesce(1).write.parquet(tmp)
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new Path(tmp)).map(_.getPath).find(_.getName.startsWith("part-")).get
    inputBytes += fs.getFileStatus(part).getLen
    fs.rename(part, new Path(s"$root/in/b$batches.parquet"))
  }

  /** A batch that folds the store chains is its own operation name, so
    * appends and compactions are measured apart.
    */
  private def batchOp(compacts: Boolean): Op = {
    lazy val docs = generate(batches)
    Op("batch", if (compacts) "batch_compacting" else "batch",
      prepare = () => { pending = docs; stage(docs) },
      run = _ => { query.processAllAvailable(); None },
      verify = () => verifyBatch(pending, compacts))
  }

  /** Check the batch against its planted truth, then advance the truth. */
  private def verifyBatch(docs: Seq[Doc], compacts: Boolean): Option[String] = {
    val id = batches
    batches += 1
    Option(query.exception.orNull).map(e => s"pipeline failed: ${e.getMessage}").orElse {
      def ids(d: String) = spark.read.parquet(s"$d/batch=$id").select(col("doc_id")).collect()
        .map(_.getLong(0)).toSet
      val accepted = docs.filter(_.fate == Valid).map(_.id).toSet
      val gotAccepted = ids(s"$root/accepted")
      val gotQuarantined = ids(s"$root/quarantine")
      if (gotAccepted != accepted || gotQuarantined != docs.map(_.id).toSet -- accepted)
        Some(s"batch $id split: accepted ${gotAccepted.size} (want ${accepted.size}), " +
          s"quarantined ${gotQuarantined.size}")
      else {
        docs.filter(_.fate == Valid).foreach(d => truth(d.key) = (d.title, d.rev))
        docsIn += docs.size
        docsAccepted += accepted.size
        val cat = CatalogStore.read(spark, dirs("catalog"))
          .select(col("dataset_key"), col("title"), col("revision").cast("long")).collect()
          .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
        val compacted = trackVersions()
        if (cat != truth.toMap) Some(s"batch $id catalog read-back differs from truth " +
          s"(${cat.size} vs ${truth.size} datasets)")
        else if (compacted != compacts) Some(s"batch $id: compacted=$compacted, but " +
          s"maxChain=$MaxChain predicts compacted=$compacts")
        else None
      }
    }
  }

  private def listVersions(store: String): Seq[Long] = store match {
    case "catalog" => CatalogStore.listVersions(spark, dirs(store))
    case "dedup"   => DedupIndex.listVersions(spark, dirs(store))
    case _         => FreqStore.listVersions(spark, dirs(store))
  }

  /** Each maintained store gains one version per append and one more when
    * it compacts; a compaction resets the read chain to its new base.
    */
  private def trackVersions(): Boolean = dirs.keys.toSeq.map { s =>
    val now = listVersions(s)
    val added = now.size - versions(s).size
    versions(s) = now
    val compacted = s != "catalog" && added >= 2
    if (compacted) { compactions += 1; chain(s) = 1 }
    else if (s != "catalog") chain(s) += added
    compacted
  }.contains(true)

  /** Rounds of lookups after batch k, each about one doc it accepted. */
  private def lookupOps(k: Int): Seq[Op] = {
    val rnd = new Random(ctx.seed * 104729L + k)
    Seq.fill(LookupRounds)(rnd.nextDouble()).flatMap { pick =>
      def d: Doc = {
        val accepted = pending.filter(_.fate == Valid)
        accepted((pick * accepted.size).toInt)
      }
      Seq(
        Op("lookup", "get", _ =>
          check(CatalogStore.get(spark, dirs("catalog"), d.key), truth.get(d.key))),
        Op("lookup", "get_miss", _ =>
          check(CatalogStore.get(spark, dirs("catalog"), s"absent-${d.id}"), None)),
        Op("lookup", "find_by_title", _ =>
          check(CatalogStore.findByTitle(spark, dirs("catalog"), d.title), Some((d.key, d.rev)))))
    }
  }

  private def check[A](got: A, want: A): Option[String] =
    if (got == want) None else Some(s"lookup answered $got, expected $want")

  /** One batch warms the pipeline; its successors are timed. */
  override def warmRounds: Seq[Seq[Op]] = Seq(Main.groups(ops(-1)).head)

  /** A pass is one compaction cycle. The stores start with a chain of one
    * and the warm-up stages batch 0, so batch k folds the chains when
    * k % MaxChain == MaxChain - 1.
    */
  override def ops(pass: Int): Seq[Op] = (0 until MaxChain).flatMap { i =>
    val k = if (pass < 0) i else 1 + MaxChain * pass + i
    batchOp(compacts = k % MaxChain == MaxChain - 1) +: lookupOps(batches + i)
  }

  override def counters(): Map[String, Any] = {
    // everything the batches wrote: stores, the lakes, the stream's log
    val written = Probes.dirBytes(root) - bytesAtStart
    Map(
      "sources.disk_mb" -> dirs.values.map(Probes.dirBytes).sum / 1e6,
      "sources.bytes_written_per_input_byte" -> written.toDouble / math.max(1L, inputBytes)) ++
      dirs.keys.flatMap(s => Seq(
      s"sources.$s.versions" -> versions(s).size,
      s"sources.$s.chain_len" -> (if (s == "catalog") 1 else chain(s)))) ++ Map(
      "sources.compactions" -> compactions,
      "ingest.batches" -> batches,
      "ingest.batch_docs" -> BatchDocs,
      "streaming.accepted_frac" -> docsAccepted.toDouble / math.max(1L, docsIn))
  }

  override def close(): Unit = if (query != null) query.stop()
}

object IngestWorkload {
  private sealed trait Fate
  private case object Valid extends Fate
  private case object BadRule extends Fate
  private case object BadChecksum extends Fate
  private case object MissingPayload extends Fate

  private final case class Doc(
      id: Long, key: String, title: String, rev: Long, fate: Fate, json: String)

  val BatchDocs = 100
  val MaxChain = 3
  val MaxBatches = 240
  /** Lookup rounds per batch: a lookup varies more within a run than a
    * batch does, so each kind needs more samples for a steady median.
    */
  val LookupRounds = 3
  val InitialDatasets = 200

  private val Vocabulary: IndexedSeq[String] =
    ("landsat sentinel aerial imagery elevation lidar coastline river catchment " +
      "survey parcel boundary contour orthophoto mosaic tile band cloud cover " +
      "metadata collection item asset checksum region district harbour glacier " +
      "forest wetland urban rural road railway building footprint hillshade slope " +
      "aspect bathymetry tide gauge station rainfall temperature wind").split(" ").toIndexedSeq
}
