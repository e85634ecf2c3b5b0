package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** One timed operation of a workload pass. `prepare` runs before the
  * timing starts and `verify` after it ends, so neither is measured;
  * `run` is the measured call and returns None when its answer is right
  * or Some(reason) when it is wrong.
  */
final case class Op(
    kind: String, name: String,
    run: Long => Option[String],
    prepare: () => Unit = () => (),
    verify: () => Option[String] = () => None)

/** A workload: provisioning, then the ops of each pass (in seeded order). */
trait Workload {
  /** Named provisioning steps, run once in order and timed one by one. */
  def setupSteps: Seq[(String, () => Unit)]
  def ops(pass: Int): Seq[Op]
  /** The untimed warm-up, in rounds, and whether a round's ops may run
    * concurrently.
    */
  def warmRounds: Seq[Seq[Op]] = Seq(ops(-1))
  def warmConcurrently: Boolean = false
  /** Layer counters the workload keeps itself (store versions, …). */
  def counters(): Map[String, Any] = Map.empty
  /** Store directories the traced run's read probe times, by store name. */
  def stores: Map[String, String] = Map.empty
  /** Whether the operations go through `Tables` and `GraftFunctions`, so
    * the traced run probes those layers too.
    */
  def queryLayers: Boolean = false
  /** DuckDB oracle SQL of the workload's queries, for run.py to check. */
  def oracleSql: Map[String, String] = Map.empty
  def close(): Unit = ()
}

final case class Rec(
    pass: Int, kind: String, name: String, seconds: Double, traced: Boolean,
    error: Option[String])

final case class Ctx(
    spark: SparkSession, tracer: Tracer, data: String, work: String, seed: Long,
    plant: String) {
  val cores: Int = spark.sparkContext.defaultParallelism

  /** Seeded order of one pass; pass -1 is the untimed warm-up. */
  def order[A](xs: Seq[A], pass: Int): Seq[A] = new Random(seed * 1000003L + pass).shuffle(xs)
}

/** Runs one workload and writes its raw records for `run.py`:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR --work DIR [--plant P]
  *
  * Output, all under --work: `result.json` (setup timings, one record per
  * timed operation, counters), `oracle_sql.json` and the reference query
  * answers under `out/` (checked against DuckDB by run.py), and, when
  * tracing, `spans.jsonl`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seconds = opt("seconds").toDouble
    val trace = opt.get("trace").contains("1")
    val cores = Runtime.getRuntime.availableProcessors()
    val work = opt("work")

    val setup = mutable.LinkedHashMap.empty[String, Double]
    def timed(key: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      setup(key) = setup.getOrElse(key, 0.0) + (System.nanoTime() - t0) / 1e9
    }

    var spark: SparkSession = null
    timed("session") {
      spark = Session.start(cores, work)
    }
    val tracer = new Tracer(spark)
    val ctx = Ctx(spark, tracer, opt("data"), work, opt("seed").toLong, opt.getOrElse("plant", ""))
    val workload: Workload = workloadName match {
      case "corpus-curation" => new CurationWorkload(ctx)
      case "ingest"          => new IngestWorkload(ctx)
      case other             => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val recs = mutable.ArrayBuffer.empty[Rec]

    def runOp(op: Op, pass: Int): Rec = {
      op.prepare()
      // the operation's span ends where its timing ends; the untimed check
      // after it has a span and job group of its own, so a traced run
      // does not count the check's Spark jobs as the operation's
      val (res, sec) = ctx.tracer.span(op.name, op.kind) { id =>
        spark.sparkContext.setJobGroup(s"perfbench-$id", op.name, interruptOnCancel = false)
        val t0 = System.nanoTime()
        val res =
          try op.run(id)
          catch { case e: Throwable => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
        val sec = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.clearJobGroup()
        (res, sec)
      }
      val checked = res.orElse(ctx.tracer.span(op.name, "verify") { id =>
        spark.sparkContext.setJobGroup(s"perfbench-$id", s"verify ${op.name}", interruptOnCancel = false)
        try op.verify()
        catch { case e: Throwable => Some(s"verify threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
        finally spark.sparkContext.clearJobGroup()
      })
      Rec(pass, op.kind, op.name, sec, tracer.on, checked.map(_.take(400)))
    }

    try {
      workload.setupSteps.foreach { case (step, f) => timed(step)(f()) }
      // the untimed warm-up: JIT, codegen and caches settle, and the
      // curation workload takes its reference answers
      timed("warmup") {
        workload.warmRounds.foreach { round =>
          val done =
            if (workload.warmConcurrently) Parallel.map(round, ctx.cores)(runOp(_, -1))
            else round.map(runOp(_, -1))
          recs ++= done.filter(_.error.isDefined)
        }
      }
      // timed operations, closed loop, one client thread, pass after pass
      // until the deadline and until every operation of a pass has been
      // measured. A group is a primary operation (query or batch) with the
      // lookups that follow it; a started group always finishes. A traced
      // run traces every other run of each group name (the first run for
      // every other name, the second for the rest) and ends once each name
      // has run both ways, so the same run also prices the tracing itself
      // without favouring either side with the later, warmer runs.
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val unseen = mutable.Set(workload.ops(0).map(_.name): _*)
      val heads = Main.groups(workload.ops(0)).map(_.head.name).distinct
      val runs = mutable.Map(heads.map(_ -> 0): _*)
      val ways = mutable.Set.empty[(String, Boolean)]
      var pass = 0
      var done = false
      while (!done) {
        val groups = Main.groups(workload.ops(pass)).iterator
        while (groups.hasNext && !done) {
          val group = groups.next()
          val name = group.head.name
          val traced = trace && (runs(name) + heads.indexOf(name)) % 2 == 1
          runs(name) += 1
          if (traced) tracer.start()
          group.foreach(op => recs += runOp(op, pass))
          if (traced) tracer.stop()
          ways += name -> traced
          unseen --= group.map(_.name)
          done = System.nanoTime() >= deadline &&
            (if (trace) ways.size == 2 * heads.size else unseen.isEmpty)
        }
        pass += 1
      }
      if (trace) {
        tracer.start()
        Probes.run(ctx, workload.stores, workload.queryLayers)
        tracer.stop()
      }
      val counters = workload.counters() ++ Probes.memory(spark) ++
        Map("cores" -> ctx.cores)
      val perPass = workload.ops(0).groupBy(_.name).map { case (k, v) => k -> v.size }
      writeResult(s"$work/result.json", setup.toMap, recs.toSeq, counters, perPass)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$work/oracle_sql.json"), Json(workload.oracleSql))
      if (trace) tracer.write(s"$work/spans.jsonl")
    } finally {
      workload.close()
      spark.stop()
    }
  }

  /** Split a pass into groups, each a primary operation and its lookups. */
  def groups(ops: Seq[Op]): Seq[Seq[Op]] =
    ops.foldLeft(Vector.empty[Vector[Op]]) { (gs, op) =>
      if (op.kind == "lookup" && gs.nonEmpty) gs.init :+ (gs.last :+ op) else gs :+ Vector(op)
    }

  private def writeResult(
      path: String, setup: Map[String, Double], recs: Seq[Rec],
      counters: Map[String, Any], perPass: Map[String, Int]): Unit = {
    val json = Json.obj(Seq(
      "setup" -> setup,
      "pass" -> perPass,
      "counters" -> counters,
      "ops" -> recs.map(r => Map(
        "pass" -> r.pass, "kind" -> r.kind, "name" -> r.name, "seconds" -> r.seconds,
        "traced" -> r.traced, "error" -> r.error))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }
}

object Parallel {
  /** `f` over `xs` on `threads` threads, results in input order. */
  def map[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
        override def call(): B = f(x)
      }))
      futures.map(_.get())
    } finally pool.shutdown()
  }
}

object Session {
  /** The benchmark's session: one local process on every core, the
    * configuration `graft.Bench` uses (minus its session-wide LSH cache,
    * which would move kernel work into set-up), and every scratch path
    * under the run's own work directory.
    */
  val confs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "2m",
    "spark.ui.enabled" -> "false",
    "spark.sql.streaming.pollingDelay" -> "10ms",
    "graft.local.split" -> "true")

  def start(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .withExtensions(new graft.plans.GraftExtensions)
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
