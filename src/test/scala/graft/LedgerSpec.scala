package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{CatalogStore, DedupIndex, FreqStore, HllStore, IvfIndex, KllStore}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** The version-ledger contract every versioned store shares (sources.Ledger):
  * one table-driven corrupt-marker spec over all six stores, the parsed
  * compaction guard, and the catalog snapshot source's caches and bounds.
  */
class LedgerSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(): String = Files.createTempDirectory("graft_ledger").toString

  private def marker(dir: String, v: Long): Path = Paths.get(s"$dir/v=$v/_COMMITTED")

  /** Overwrite a committed marker behind Hadoop's back — dropping the
    * LocalFileSystem CRC sidecar, or every read fails on checksum, not
    * content.
    */
  private def rewriteMarker(dir: String, v: Long, body: String): Unit = {
    Files.write(marker(dir, v), body.getBytes("UTF-8"))
    Files.deleteIfExists(Paths.get(s"$dir/v=$v/._COMMITTED.crc"))
  }

  private def catalogRows(keys: org.apache.spark.sql.Column) =
    spark.range(40).select(
      keys.as("dataset_key"), concat(lit("title-"), col("id")).as("title"), lit(1).as("revision"))

  private def quantizedEv() = Tables(spark, sf).embeddings
    .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
    .select(col("vec_id"), col("dim"), floor(col("v").cast("double") * 1000).cast("long").as("q"))

  private case class Store(
      name: String, init: String => Any, listVersions: String => Seq[Long],
      repair: String => Seq[String])

  private val stores = Seq(
    Store("HllStore", HllStore.init(spark, _, Tables(spark, sf).events, corpus = sf),
      HllStore.listVersions(spark, _), HllStore.repair(spark, _)),
    Store("KllStore", KllStore.init(spark, _, Tables(spark, sf).events, corpus = sf),
      KllStore.listVersions(spark, _), KllStore.repair(spark, _)),
    Store("IvfIndex", { d =>
        val (a, c) = operators.Similarity.corpusQuantizer(Tables(spark, sf))
        IvfIndex.init(spark, d, a, c)
      }, IvfIndex.listVersions(spark, _), IvfIndex.repair(spark, _)),
    Store("DedupIndex", DedupIndex.init(spark, _, Tables(spark, sf).documents.limit(20), bands = 8),
      DedupIndex.listVersions(spark, _), DedupIndex.repair(spark, _)),
    Store("FreqStore", FreqStore.init(spark, _, Tables(spark, sf).documents.limit(20)),
      FreqStore.listVersions(spark, _), FreqStore.repair(spark, _)),
    Store("CatalogStore", CatalogStore.init(spark, _, catalogRows(col("id"))),
      CatalogStore.listVersions(spark, _), CatalogStore.repair(spark, _)))

  stores.foreach { s =>
    test(s"${s.name}: an unparseable committed marker is corruption — loud, reaps nothing") {
      val dir = tmp()
      s.init(dir)
      val v1 = Paths.get(s"$dir/v=1")
      def payload(): Set[String] = Files.walk(v1).iterator().asScala
        .filter(Files.isRegularFile(_)).map(v1.relativize(_).toString)
        .filterNot(_.contains("_COMMITTED")).toSet
      val before = payload()
      assert(before.nonEmpty, "store published no payload")
      // crash debris next to the committed version: a marker-less v=2
      Files.createDirectories(Paths.get(s"$dir/v=2/part"))
      Files.write(Paths.get(s"$dir/v=2/part/data"), Array[Byte](1, 2, 3))
      val good = Files.readAllBytes(marker(dir, 1))
      rewriteMarker(dir, 1, """{"not":"a marker"}""")

      val eR = intercept[IllegalStateException](s.repair(dir))
      assert(eR.getMessage.contains("unreadable"), s"unexpected: ${eR.getMessage}")
      val eL = intercept[IllegalStateException](s.listVersions(dir))
      assert(eL.getMessage.contains("unreadable"), s"unexpected: ${eL.getMessage}")
      assert(payload() == before, "corrupt-marker handling touched committed data")
      assert(Files.exists(Paths.get(s"$dir/v=2")), "a failed repair deleted something")

      // with the marker restored, repair reaps exactly the debris
      rewriteMarker(dir, 1, new String(good, "UTF-8"))
      val cleared = s.repair(dir)
      assert(cleared.exists(_.endsWith("v=2")), s"repair cleared: $cleared")
      assert(!cleared.exists(_.endsWith("v=1")), s"repair reaped a committed version: $cleared")
      assert(s.listVersions(dir) == Seq(1L))
      assert(payload() == before)
    }
  }

  /** Rewrite delta v=2's `field` so the chain total becomes `real / 10` —
    * a decimal PREFIX of the real total the staged compaction will count.
    */
  private def shrinkToPrefix(dir: String, field: String, base: Long, delta: Long): Unit = {
    val prefix = (base + delta) / 10
    assert(prefix >= base, s"fixture too small: base $base, delta $delta")
    val body = new String(Files.readAllBytes(marker(dir, 2)), "UTF-8")
    val forged = body.replace(s""""$field":$delta""", s""""$field":${prefix - base}""")
    assert(forged != body, s"no $field in $body")
    rewriteMarker(dir, 2, forged)
  }

  test("DedupIndex.compact refuses a staged view whose window count merely starts with the chain's") {
    val dir = tmp()
    val docs = Tables(spark, sf).documents
    val first = docs.select(min(col("doc_id"))).head().getLong(0)
    val st1 = DedupIndex.init(spark, dir, docs.filter(col("doc_id") === first), bands = 8)
    val st2 = DedupIndex.append(spark, dir, docs)
    assert(st2.version == 2L)
    shrinkToPrefix(dir, "nw", st1.totalWindows, st2.newWindows)
    DedupIndex.repair(spark, dir) // drops the memoized markers
    val e = intercept[IllegalStateException](DedupIndex.compact(spark, dir))
    assert(e.getMessage.contains("CHANGE"), s"unexpected: ${e.getMessage}")
    assert(DedupIndex.listVersions(spark, dir) == Seq(1L, 2L), "a growing compaction published")
  }

  test("IvfIndex.compact refuses a staged view whose assignment count merely starts with the chain's") {
    val dir = tmp()
    val (a, c) = operators.Similarity.corpusQuantizer(Tables(spark, sf))
    val st1 = IvfIndex.init(spark, dir, a.orderBy(col("vec_id")).limit(1), c)
    val st2 = IvfIndex.append(spark, dir, quantizedEv())
    assert(st2.version == 2L)
    shrinkToPrefix(dir, "na", st1.totalAssigned, st2.newAssigned)
    IvfIndex.repair(spark, dir) // drops the memoized markers
    val e = intercept[IllegalStateException](IvfIndex.compact(spark, dir))
    assert(e.getMessage.contains("CHANGE"), s"unexpected: ${e.getMessage}")
    assert(IvfIndex.listVersions(spark, dir) == Seq(1L, 2L), "a growing compaction published")
  }

  private def snapshotRead(dir: String) =
    spark.read.format("graft.sources.CatalogSnapshotSource").option("path", dir).load()

  test("DSv2 catalog read after delete + re-init at the same path serves the new key type") {
    val dir = tmp()
    CatalogStore.init(spark, dir, catalogRows(col("id")))
    assert(snapshotRead(dir).schema("dataset_key").dataType == LongType)
    assert(snapshotRead(dir).collect().length == 40)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
    CatalogStore.init(spark, dir, catalogRows(concat(lit("k"), col("id"))))
    val again = snapshotRead(dir)
    assert(again.schema("dataset_key").dataType == StringType)
    assert(again.collect().map(_.getString(0)).toSet == (0 until 40).map(i => s"k$i").toSet)
  }

  test("DSv2 snapshot read refuses a snapshot holding MORE rows than its manifest") {
    val dir = tmp()
    CatalogStore.init(spark, dir, catalogRows(col("id")))
    val part = Files.walk(Paths.get(s"$dir/v=1")).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-")).get
    Files.copy(part, part.resolveSibling("part-copy.parquet"))
    val e = intercept[Throwable](snapshotRead(dir).collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("CORRUPT")),
      s"expected loud CORRUPT refusal, got: ${messages(e).mkString(" | ")}")
  }
}
