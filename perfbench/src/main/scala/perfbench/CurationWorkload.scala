package perfbench

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.{SparkEntry, Tables}
import graft.sources.{CatalogStore, DedupIndex, FreqStore}

/** corpus-curation: training-data curation queries, each running a
  * `GraftFunctions` kernel (minhash, shingles, bit-parallel Levenshtein,
  * cosine) or reading a provisioned store (dedup index, unigram and window
  * counts). Each pass ends with a few catalog lookups (get hit, get miss
  * and find by title). They are there only so that the lookup metrics
  * exist on this workload too; they are timed apart and kept out of the
  * pass and query metrics.
  *
  * A query is timed from the call into `SparkEntry.queries(id)` (the
  * build: table loads, eager jobs, plan construction) to the end of an
  * action that materialises every output column ([[FingerprintSink]]).
  * The warm-up writes each answer to parquet for the DuckDB oracle and
  * takes its fingerprint as the reference every timed execution must
  * reproduce.
  */
final class CurationWorkload(ctx: Ctx) extends Workload {
  import CurationWorkload._
  import ctx.spark

  private val storeRoot = s"${ctx.work}/stores"
  private val catalogDir = s"$storeRoot/catalog"
  private val reference = new java.util.concurrent.ConcurrentHashMap[String, Fingerprint]()
  private var catalog: Map[Long, (String, Long)] = Map.empty
  private val fns = SparkEntry.queries

  require(Queries.forall(fns.contains),
    s"unknown queries: ${Queries.filterNot(fns.contains).mkString(", ")}")

  override val stores: Map[String, String] = Stores.map(s => s -> s"$storeRoot/$s").toMap
  override def queryLayers: Boolean = true

  override def setupSteps: Seq[(String, () => Unit)] = Seq(
    "stores" -> (() => provision()),
    "caches" -> (() => {
      catalog = CatalogStore.read(spark, catalogDir).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.get(2).toString.toLong)).toMap
    }))

  /** The stores are independent, so they are provisioned concurrently. */
  private def provision(): Unit = {
    val t = Tables(spark, ctx.data)
    val docs = t.documents.select(col("doc_id"), col("source"), col("text"))
    Parallel.map(Stores, ctx.cores) { s =>
      val dir = s"$storeRoot/$s"
      s match {
        case "catalog" =>
          CatalogStore.init(spark, dir, graft.operators.CatalogOps.catalogBase(t))
        case "freq" =>
          FreqStore.init(spark, dir, docs)
          spark.conf.set("graft.freq.store", dir)
        case "windoc" =>
          FreqStore.init(spark, dir, docs, FreqStore.WindowDoc(8))
          spark.conf.set("graft.win.store", dir)
        case "dedup" =>
          DedupIndex.init(spark, dir, docs.filter(!col("source").like("src1%")),
            bands = 8, windowK = 8)
          spark.conf.set("graft.delta.index", dir)
      }
    }
  }

  private def build(name: String): DataFrame = {
    val df = fns(name)(spark, ctx.data)
    // a planted wrong answer drops every row
    if (ctx.plant == "wrong" && name == Queries.head) df.filter(lit(false)) else df
  }

  private def queryOp(name: String, pass: Int, takeReference: Boolean = false): Op =
    Op("query", name, { id =>
      val df = ctx.tracer.span("build", "build")(_ => build(name))
      if (takeReference) {
        // write the answer for the oracle and take the reference
        // fingerprint from what was written
        val out = s"${ctx.work}/out/$name"
        df.write.mode("overwrite").parquet(out)
        fingerprint(spark.read.parquet(out), s"$name#ref").foreach(reference.put(name, _))
      }
      val fp = ctx.tracer.span("action", "action") { aid =>
        if (takeReference) Option(reference.get(name))
        else fingerprint(df, if (aid != 0L) aid.toString else s"$name#$pass")
      }
      (fp, Option(reference.get(name))) match {
        case (Some(got), Some(want)) if got == want => None
        case (got, None) => Some(s"no reference answer (warm-up failed); got $got")
        case (got, want) => Some(s"answer differs from the reference: $got vs $want")
      }
    })

  private def fingerprint(df: DataFrame, op: String): Option[Fingerprint] = {
    df.write.format(classOf[FingerprintSink].getName).option("op", op).mode("overwrite").save()
    FingerprintSink.take(op)
  }

  private val planted = Op("query", "planted_throw",
    _ => throw new IllegalStateException("planted failure"))

  private def lookupOp(i: Int, rnd: Random): Op = {
    val keys = catalog.keys.toIndexedSeq.sorted
    val key = keys(rnd.nextInt(keys.size))
    i % 3 match {
      case 0 => Op("lookup", "get", _ => check(CatalogStore.get(spark, catalogDir, key), catalog.get(key)))
      case 1 =>
        val miss = key + 1000000000L
        Op("lookup", "get_miss", _ => check(CatalogStore.get(spark, catalogDir, miss), None))
      case _ =>
        val (title, rev) = catalog(key)
        Op("lookup", "find_by_title", _ =>
          check(CatalogStore.findByTitle(spark, catalogDir, title).map {
            case (k, r) => (k.toString.toLong, r) }, Some((key, rev))))
    }
  }

  private def check[A](got: A, want: A): Option[String] =
    if (got == want) None else Some(s"lookup answered $got, expected $want")

  /** Two concurrent rounds: the reference answers, then a full pass with
    * its lookups, so JIT compilation has settled before the timing starts.
    */
  override def warmRounds: Seq[Seq[Op]] = Seq(
    Queries.map(queryOp(_, -1, takeReference = true)) ++
      (if (ctx.plant == "throw") Seq(planted) else Nil),
    ops(-1))
  override def warmConcurrently: Boolean = true

  override def ops(pass: Int): Seq[Op] = {
    val rnd = new Random(ctx.seed * 31 + pass)
    ctx.order(Queries, pass).map(queryOp(_, pass)) ++
      (if (ctx.plant == "throw") Seq(planted) else Nil) ++
      (0 until LookupsPerPass).map(lookupOp(_, rnd))
  }

  override def oracleSql: Map[String, String] =
    SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }

  /** Freshly provisioned stores: one version each, a chain of one. */
  override def counters(): Map[String, Any] =
    Probes.storeCounters(spark, stores, inputBytes = Probes.dirBytes(ctx.data)) ++
      stores.keys.flatMap(s => Seq(s"sources.$s.versions" -> 1, s"sources.$s.chain_len" -> 1))
}

object CurationWorkload {
  val Queries: Seq[String] = Seq(
    "q92_source_overlap", "q129_edit_verify", "q41_embedding_neardup", "q107_delta_dedup",
    "q113_substring_windows", "q121_token_rarity")

  /** Two of each lookup kind per pass. */
  val LookupsPerPass = 6

  /** The catalog serves the lookups; the others back the store-reading
    * queries (each query's session conf points it at its store).
    */
  val Stores: Seq[String] = Seq("catalog", "freq", "windoc", "dedup")
}
