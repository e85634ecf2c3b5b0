package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The version machinery every versioned store shares — written once.
  *
  * Layout under a store `dir`:
  * {{{
  *   v=N/...             one published version's payload
  *   v=N/_COMMITTED      its marker: presence IS publication, the body is
  *                       the store's metadata M
  *   _staging/vN-<uuid>  a writer's private, in-flight version
  * }}}
  * A version is a BASE (a complete view) or a DELTA on the newest base
  * before it; the read chain is the newest base and every later delta.
  * A store supplies only its marker codec (`encode`/`decode`) and which
  * markers are bases; the ledger owns listing, the marker cache, the
  * chain, staging, the [[CasProtocol]] publish, repair and gc.
  *
  * Committed markers are IMMUTABLE (versions are never rewritten, only
  * created or deleted whole, and no code path queries a deleted version —
  * every consumer iterates a fresh directory listing first), so
  * successful marker reads memoize forever. Without this, every
  * append/read re-fetches O(chain) marker files per operation — real
  * round-trips on an object store.
  * SCOPE OF THE ASSUMPTION (read APIs inherit it): the cache is per-JVM
  * and invalidated only by THIS JVM's init/gc/repair — if another
  * process deletes and re-initializes the store at the same path, reads
  * here can serve the previous incarnation's metadata for reused version
  * numbers. That is the documented single-writer / no-out-of-band-
  * deletion contract; the COMMIT predicate always re-reads uncached, so
  * publishes are safe regardless. A caller that must observe a foreign
  * re-init should route it through this JVM's init/repair.
  *
  * A present-but-unparseable marker is CORRUPTION OR MIGRATION, never
  * absence: treating it as uncommitted would hide the version from
  * listings and turn repair() into a committed-data reaper, so every
  * read of it fails loudly.
  *
  * @param label        the store's name in errors ("no dedup index at …")
  * @param update       what one publish is called in a lost race's error
  * @param onInvalidate drops caches the store derives from its versions
  *                     whenever the ledger drops the dir's markers
  */
private[graft] final class Ledger[M](
    label: String,
    update: String,
    encode: M => String,
    decode: String => Option[M],
    isBase: M => Boolean,
    onInvalidate: String => Unit = (_: String) => ()) {

  private val metaCache = new java.util.concurrent.ConcurrentHashMap[String, M]()
  // In-JVM claim serialization: the Spark driver is the commit
  // coordinator, so writer threads in one driver serialize here and the
  // claim's marker check is race-free among them. Cross-process safety is
  // the committer's atomic primitive ([[CasProtocol]]); RawLocalFileSystem
  // alone would NOT suffice cross-thread — its rename can fall back to a
  // copy INTO an existing destination dir, which this lock forecloses.
  private val commitLock = new Object

  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def versionPath(dir: String, v: Long): String = s"$dir/v=$v"

  private def readMarker(f: FileSystem, p: Path): Option[M] = {
    val in = f.open(p)
    try decode(new String(in.readAllBytes(), "UTF-8").trim)
    finally in.close()
  }

  /** Drop every cached marker under `dir` — init/gc/repair call this so a
    * deleted-and-recreated store (or reclaimed versions) can never be
    * served from a previous incarnation's metadata.
    */
  private def invalidate(dir: String): Unit = {
    metaCache.keySet.removeIf(_.startsWith(s"$dir|"))
    onInvalidate(dir)
  }

  private def readMeta(spark: SparkSession, dir: String, v: Long): Option[M] = {
    val cached = metaCache.get(s"$dir|$v")
    if (cached != null) return Some(cached)
    val out = readMetaUncached(spark, dir, v)
    out.foreach(m => metaCache.put(s"$dir|$v", m))
    out
  }

  /** The marker of a version the caller has just listed. */
  def meta(spark: SparkSession, dir: String, v: Long): M = readMeta(spark, dir, v).get

  def readMetaUncached(spark: SparkSession, dir: String, v: Long): Option[M] = {
    val f = fs(spark, dir)
    val p = new Path(versionPath(dir, v), CasProtocol.Marker)
    if (!f.exists(p)) None
    else Some(readMarker(f, p).getOrElse(throw new IllegalStateException(
      s"committed marker at $p is unreadable — $label format migrated or manifest corrupt; " +
        "refusing to treat the version as uncommitted (repair would reap committed data). " +
        "Restore the marker or rebuild the store at a fresh path.")))
  }

  /** Committed versions ascending; marker-less `v=N` dirs are crash debris. */
  def listVersions(spark: SparkSession, dir: String): Seq[Long] = {
    val f = fs(spark, dir)
    if (!f.exists(new Path(dir))) return Seq.empty
    f.listStatus(new Path(dir)).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v=") => s.stripPrefix("v=").toLong }
      .filter(v => readMeta(spark, dir, v).isDefined)
      .sorted
  }

  def currentVersion(spark: SparkSession, dir: String): Option[Long] =
    listVersions(spark, dir).lastOption

  /** The published version of a store that must exist. */
  def latest(spark: SparkSession, dir: String): Long =
    currentVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"no $label at $dir — init first"))

  /** The oldest version's marker — where init pins a store's parameters. */
  def pinned(spark: SparkSession, dir: String): M =
    meta(spark, dir, listVersions(spark, dir).headOption.getOrElse(
      throw new IllegalStateException(s"no $label at $dir")))

  /** The read chain: the newest base and every later delta. */
  def readChain(spark: SparkSession, dir: String): Seq[Long] = {
    val vs = listVersions(spark, dir)
    require(vs.nonEmpty, s"no $label at $dir")
    val lastBase = vs.filter(v => isBase(meta(spark, dir, v))).lastOption
    vs.filter(v => lastBase.forall(v >= _))
  }

  /** One payload relation of every chain version, unioned. */
  def readUnion(spark: SparkSession, dir: String, rel: String): DataFrame =
    readChain(spark, dir)
      .map(v => spark.read.parquet(s"${versionPath(dir, v)}/$rel"))
      .reduce(_.unionByName(_))

  /** The init precondition: nothing published at `dir` (after dropping
    * whatever this JVM cached about a previous store there).
    */
  def requireEmpty(spark: SparkSession, dir: String): Unit = {
    invalidate(dir)
    require(currentVersion(spark, dir).isEmpty, s"$label at $dir already initialized")
  }

  /** Stage version `v` in a private dir unique to this attempt: `write`
    * lays down the payload and returns the marker, whose counts it reads
    * BACK from the staged files so the marker certifies what landed.
    */
  def stage(spark: SparkSession, dir: String, v: Long)(write: Path => M): Path = {
    val staging = new Path(dir, s"_staging/v$v-${java.util.UUID.randomUUID()}")
    writeMarker(spark, staging, write(staging))
    staging
  }

  private def writeMarker(spark: SparkSession, staging: Path, m: M): Unit = {
    val out = fs(spark, staging.toString).create(new Path(staging, CasProtocol.Marker), false)
    try out.write(encode(m).getBytes("UTF-8"))
    finally out.close()
  }

  /** A STAGED marker, parsed — publish guards compare its fields, never
    * substrings of its body (a probe for `"n":5` matches a staged 55).
    */
  private def stagedMeta(spark: SparkSession, staging: Path): M = {
    val p = new Path(staging, CasProtocol.Marker)
    readMarker(fs(spark, staging.toString), p).getOrElse(
      throw new IllegalStateException(s"staged marker at $p is unreadable"))
  }

  /** The CAS publish of `staging` as `v`. The claim predicate re-reads
    * the marker uncached (CasProtocol's contract): the memoized read
    * would serve a stale positive after an out-of-band deletion.
    */
  def commit(spark: SparkSession, dir: String, staging: Path, v: Long): Unit =
    CasProtocol.claim(
      spark, dir, staging, new Path(versionPath(dir, v)), v, commitLock,
      () => readMetaUncached(spark, dir, v).isDefined, update)

  /** Publish `staging` as `v` unless its marker says it adds nothing, in
    * which case it is dropped. Returns the version now current.
    */
  def commitUnlessEmpty(spark: SparkSession, dir: String, staging: Path, v: Long)(
      empty: M => Boolean): Long =
    if (empty(stagedMeta(spark, staging))) { fs(spark, dir).delete(staging, true); v - 1 }
    else { commit(spark, dir, staging, v); v }

  /** The compaction guard: publish `staging` as `v` only when its marker's
    * `field` equals the chain's `want`; otherwise drop it and fail.
    */
  def commitIfUnchanged[K](spark: SparkSession, dir: String, staging: Path, v: Long, want: K)(
      field: M => K): Unit = {
    val got = field(stagedMeta(spark, staging))
    if (got != want) {
      fs(spark, dir).delete(staging, true)
      throw new IllegalStateException(
        s"compaction would CHANGE the $label view (expected $want, staged $got) — " +
          "aborted, nothing published")
    }
    commit(spark, dir, staging, v)
  }

  /** Publish an already-staged payload as the NEXT version: the version
    * pick, the marker `meta(v)` and the claim happen under the commit
    * lock (which the claim re-enters), so in-JVM writers land on
    * consecutive versions. Returns the version published.
    */
  def commitNext(spark: SparkSession, dir: String, staging: Path)(meta: Long => M): Long =
    commitLock.synchronized {
      val v = currentVersion(spark, dir).getOrElse(0L) + 1
      writeMarker(spark, staging, meta(v))
      commit(spark, dir, staging, v)
      v
    }

  /** Quiesced-writers crash-debris cleanup — [[CasProtocol.repair]]. */
  def repair(spark: SparkSession, dir: String): Seq[String] = {
    invalidate(dir)
    CasProtocol.repair(spark, dir, v => readMetaUncached(spark, dir, v).isDefined)
  }

  /** Drop published versions no longer in the read chain (history
    * strictly before the newest base), keeping the most recent
    * `keepHistory` for forensics. Never touches the chain; returns the
    * dropped versions.
    */
  def gc(spark: SparkSession, dir: String, keepHistory: Int): Seq[Long] = {
    require(keepHistory >= 0, s"keepHistory must be >= 0: $keepHistory")
    val f = fs(spark, dir)
    val chain = readChain(spark, dir).toSet
    val doomed = listVersions(spark, dir).filterNot(chain).dropRight(keepHistory)
    doomed.foreach(v => f.delete(new Path(versionPath(dir, v)), true))
    doomed.foreach(v => metaCache.remove(s"$dir|$v"))
    onInvalidate(dir)
    doomed
  }
}

private[graft] object Ledger {

  /** Append tags land verbatim in marker JSON: restrict them to a
    * quote/backslash-free charset, or the committed marker would be
    * unparseable and its version unreadable.
    */
  def requireValidTag(tg: String): Unit =
    require(tg.nonEmpty && tg.length <= 128 && tg.forall(c =>
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || "._:-".contains(c)),
      s"append tag must be 1..128 chars of [A-Za-z0-9._:-]: '$tg'")

  /** The optional `,"tag":"…"` marker field of a tagged append. */
  def tagField(tag: Option[String]): String = tag.map(t => s""","tag":"$t"""").getOrElse("")
}
