package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Pq, Similarity}
import graft.view.IndexStore

/** Every persisted vector tier maintains the one shared store: after a
  * build and three seeded deltas (list-moving updates, tombstones, an
  * update plus a tombstone of the same id, re-added ids), the stored
  * rows equal a fresh build over the final corpus. The corpus carries
  * two sentinel vectors at ±2 in every dimension and the deltas never
  * touch them or the 16 lowest ids, so a fresh build trains the same
  * quantizers the maintained store froze at its build (asserted). */
class VectorStorePropertySpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val dir = Files.createTempDirectory("graft-vecprop").toString

  /** A tier: its build and its upsert (changed rows, tombstoned ids). */
  private case class Tier(name: String, build: (DataFrame, String) => Unit,
                          upsert: (String, DataFrame, Seq[Any]) => Seq[Int],
                          sides: Seq[String])

  private val tau = 0.3
  private val tiers = Seq(
    Tier("lsh", (c, p) => Similarity.buildLshIndex(c, p, idBuckets = 4),
      (p, c, d) => Similarity.upsertLshVectors(spark, p, c, d), Nil),
    Tier("ivf", (c, p) => Similarity.buildIvfIndex(c, p, idBuckets = 4),
      (p, c, d) => Similarity.upsertIvfVectors(spark, p, c, d),
      Seq("centroids")),
    Tier("sq8", (c, p) => Similarity.buildSq8Index(c, p, idBuckets = 4),
      (p, c, d) => Similarity.upsertSq8Vectors(spark, p, c, d),
      Seq("model")),
    Tier("ivfsq8", (c, p) => Similarity.buildIvfSq8Index(c, p, idBuckets = 4),
      (p, c, d) => Similarity.upsertIvfSq8Vectors(spark, p, c, d),
      Seq("centroids", "model")),
    Tier("binary", (c, p) => Similarity.buildBinaryIndex(c, p, idBuckets = 4),
      (p, c, d) => Similarity.upsertBinaryVectors(spark, p, c, d), Nil),
    Tier("pq", (c, p) => Pq.buildPqIndex(c, p, idBuckets = 4),
      (p, c, d) => Pq.upsertPqVectors(spark, p, c, d), Seq("codebooks")),
    Tier("ivfpq", (c, p) => Pq.buildIvfPqIndex(c, p, idBuckets = 4),
      (p, c, d) => Pq.upsertIvfPqVectors(spark, p, c, d),
      Seq("centroids", "codebooks")),
    Tier("ivfpqr", (c, p) => Pq.buildIvfPqResidualIndex(c, p, idBuckets = 4),
      (p, c, d) => Pq.upsertIvfPqResiduals(spark, p, c, d),
      Seq("centroids", "codebooks")),
    Tier("semdedup",
      (c, p) => Similarity.buildSemDedupIndex(c, p, tau, idBuckets = 4),
      (p, c, d) => Similarity.upsertSemDedupVectors(spark, p, c, d),
      Seq("centroids", "params")))

  private def frame(vs: Iterable[(Long, Array[Float])]): DataFrame =
    vs.toSeq.toDF("vec_id", "embedding")

  /** Three seeded deltas over `base`: each the changed rows (ids ≥ 16)
    * and the tombstoned ids, plus the corpus after it. */
  private def deltas(base: Map[Long, Array[Float]])
      : Seq[(Seq[(Long, Array[Float])], Seq[Long], Map[Long, Array[Float]])] = {
    val rnd = new scala.util.Random(20261019L)
    val gone = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    (1 to 3).scanLeft((Seq.empty[(Long, Array[Float])], Seq.empty[Long], base)) {
      case ((_, _, cur), _) =>
        val open = rnd.shuffle(cur.keys.filter(id => id >= 16 && id < 10000)
          .toSeq.sorted)
        // negated vectors move to another list; one is also tombstoned
        val upd = open.take(12).map(id => id -> cur(id).map(-_))
        val del = open.slice(12, 17) :+ upd.head._1
        val back = gone.take(2).map { case (id, v) => id -> v.map(_ * 0.5f) }
        gone.remove(0, back.size)
        gone ++= del.filterNot(_ == upd.head._1).map(id => id -> cur(id))
        val changed = upd ++ back
        (changed, del, cur ++ changed -- del)
    }.tail
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.select(df.columns.sorted.map(col).toSeq: _*).collect().map(_.toSeq).toSet

  private def leftovers(p: String): Seq[String] =
    Files.list(Paths.get(p)).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith("._tmp") || n == "_graft_swap").toSeq

  test("nine tiers: build + three deltas == a fresh build of the final corpus") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val base = emb.toMap ++ Seq(1000000L -> Array.fill(64)(2.0f),
      1000001L -> Array.fill(64)(-2.0f))
    val ds = deltas(base)
    val last = ds.last._3
    assert(ds.map(_._1.size).sum > 30 && ds.map(_._2.size).sum > 12)
    tiers.foreach { t =>
      val p = s"$dir/${t.name}"
      t.build(frame(base), p)
      ds.foreach { case (changed, del, _) =>
        assert(t.upsert(p, frame(changed), del).nonEmpty,
          s"${t.name}: a delta must rewrite some bucket")
      }
      val fresh = s"$dir/${t.name}_fresh"
      t.build(frame(last), fresh)
      t.sides.foreach { s =>
        assert(rows(spark.read.parquet(s"$p/$s")) ==
          rows(spark.read.parquet(s"$fresh/$s")),
          s"${t.name}: the frozen $s must equal a fresh training")
      }
      val data = spark.read.parquet(s"$p/data")
      assert(rows(data) == rows(spark.read.parquet(s"$fresh/data")),
        s"${t.name}: maintained rows != a fresh build of the final corpus")
      assert(data.select($"_id").as[Long].collect().toSet == last.keySet,
        s"${t.name}: the stored ids must be the live corpus")
      assert(rows(spark.read.parquet(s"$p/ids").select("_id", "_kb")) ==
        rows(data.select("_id", "_kb")),
        s"${t.name}: the sidecar must pair each id with its data bucket")
      assert(IndexStore.readMeta(spark, p).updateSeq == 3L, t.name)
      assert(leftovers(p).isEmpty, s"${t.name}: leftovers ${leftovers(p)}")
    }
  }

  test("an SQ8 store in the old `_b=` layout is refused, naming its path") {
    val p = s"$dir/sq8old"
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    Similarity.sq8Train(emb).write.parquet(s"$p/model")
    Similarity.sq8Codes(emb, Similarity.sq8Model(spark, p))
      .withColumn("_b", IndexStore.idBucket(col("vec_id"), 4))
      .write.partitionBy("_b").parquet(s"$p/data")
    IndexStore.writeMeta(spark, p, graft.view.IndexMeta(0L, 4, Nil))
    val q = emb.filter($"vec_id" < 3)
    Seq[(String, () => Any)](
      "sq8TopKIndexed" -> (() => Similarity.sq8TopKIndexed(spark, p, q, 5)),
      "upsertSq8Vectors" -> (() =>
        Similarity.upsertSq8Vectors(spark, p, q, Seq(4L)))
    ).foreach { case (what, call) =>
      val e = intercept[java.io.IOException](call())
      assert(e.getMessage.contains(p), s"$what must name the store: $e")
    }
  }

  test("a SemDeDup upsert cut off mid-swap replays to the clean verdicts") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val (crashed, clean) = (s"$dir/sd_crash", s"$dir/sd_clean")
    Seq(crashed, clean).foreach(Similarity.buildSemDedupIndex(emb, _, tau))
    val changed = emb.filter($"vec_id".between(20, 27))
      .withColumn("embedding", transform($"embedding", x => -x))
    def update(p: String) =
      Similarity.upsertSemDedupVectors(spark, p, changed, Seq(30L, 31L))
    update(clean)
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[CrashingLocalFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    CrashingLocalFs.crashAt = "data._tmp"
    try intercept[java.io.IOException](update(crashed))
    finally {
      CrashingLocalFs.crashAt = null
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
    }
    assert(Files.exists(Paths.get(crashed, "_graft_swap")),
      "the crash hit after the swap record was written")
    update(crashed) // the replay
    def verdicts(p: String) = rows(Similarity.semDedupVerdicts(spark, p))
    assert(verdicts(crashed) == verdicts(clean))
    assert(rows(spark.read.parquet(s"$crashed/ids")) ==
      rows(spark.read.parquet(s"$clean/ids")))
    assert(IndexStore.readMeta(spark, crashed).updateSeq == 1L)
    assert(leftovers(crashed).isEmpty, s"leftovers ${leftovers(crashed)}")
    // ... and equal the scan over the final corpus: the quantizer is the
    // 16 lowest ids, which the delta leaves alone
    val last = emb.filter(!$"vec_id".between(20, 27) &&
      !$"vec_id".isin(30L, 31L)).unionByName(changed)
    assert(verdicts(crashed) == rows(Similarity.semDedup(last, tau)))
  }
}
