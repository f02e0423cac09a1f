package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Streams
import graft.view.{IndexStore, Reduce, View}

/** `Streams.maintainViewIndex` against a driver-side model of the doc
  * set: seeded random batches of key moves across buckets, new docs,
  * tombstones, an update and a tombstone for one id in one batch, and
  * keys that lose their last doc. After every batch the data rows, the
  * by-id sidecar, the reduced index and the stored reduced group count
  * must all agree with the model. */
class ViewMaintenancePropertySpec extends SparkSpecBase {
  import spark.implicits._

  private val Keys = (0 until 24).map(i => f"k$i%02d")

  private def run(seed: Long, unknownStamp: Boolean): Unit = {
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft-maint-prop").toString
    val path = s"$dir/idx"
    val rng = new Random(seed)
    val model = mutable.LinkedHashMap.empty[Long, (String, Double)]
    var nextId = 1L
    val in = MemoryStream[ChangeDel]
    val emit = (batch: org.apache.spark.sql.DataFrame) =>
      batch.select(col("_docid").as("_id"), col("status").as("key"),
        col("price").as("value"))
    val q = Streams.maintainViewIndex(spark, in.toDF(), emit, path,
      s"$dir/ckpt", buckets = 4, reduce = Some(Reduce.Sum),
      id = col("_docid"))
    def price() = (1 + rng.nextInt(1000)).toDouble // exact double sums
    def upsert(id: Long, k: String) = {
      val p = price(); model(id) = (k, p)
      ChangeDel(id, k, p, _deleted = false)
    }
    def tombstone(id: Long) = {
      val (k, p) = model.remove(id).get
      ChangeDel(id, k, p, _deleted = true)
    }
    def fresh() = { val id = nextId; nextId += 1; id }
    try {
      in.addData((1 to 40).map(_ => upsert(fresh(), Keys(rng.nextInt(Keys.size)))): _*)
      q.processAllAvailable()
      View(Seq((1L, "k00", 1.0)).toDF("_docid", "status", "price"),
        col("_docid"), col("status"), col("price"), Some(Reduce.Sum))
        .materializeReduced(spark, path)
      check(path, model)
      if (unknownStamp)
        IndexStore.writeMeta(spark, path,
          IndexStore.readMeta(spark, path).copy(reducedGroups = -1L))
      for (_ <- 1 to 5) {
        val touched = mutable.HashSet.empty[Long]
        def pick() = {
          val free = model.keys.filterNot(touched).toIndexedSeq
          val id = free(rng.nextInt(free.size)); touched += id; id
        }
        val batch = mutable.ArrayBuffer.empty[ChangeDel]
        // a key that loses its last doc
        model.groupBy(_._2._1).collectFirst {
          case (_, ds) if ds.size == 1 && !touched(ds.head._1) => ds.head._1
        }.foreach { id =>
          touched += id
          val others = Keys.filter(_ != model(id)._1)
          batch += (if (rng.nextBoolean()) tombstone(id)
                    else upsert(id, others(rng.nextInt(others.size))))
        }
        // an update and a tombstone for one id: the tombstone wins
        val both = pick()
        batch += upsert(both, Keys(rng.nextInt(Keys.size)))
        batch += tombstone(both)
        for (_ <- 1 to 4 + rng.nextInt(6)) rng.nextInt(4) match {
          case 0 => batch += upsert(fresh(), Keys(rng.nextInt(Keys.size)))
          case 1 => batch += tombstone(pick())
          case 2 => // key move (usually across buckets)
            batch += upsert(pick(), Keys(rng.nextInt(Keys.size)))
          case _ => // value change under the same key
            val id = pick(); val k = model(id)._1
            batch += upsert(id, k)
        }
        in.addData(batch.toSeq: _*)
        q.processAllAvailable()
        check(path, model)
      }
    } finally q.stop()
  }

  private def check(path: String,
                    model: collection.Map[Long, (String, Double)]): Unit = {
    val meta = IndexStore.readMeta(spark, path)
    def kbOf(ck: Array[Byte]) = IndexStore.bucketOf(meta, ck)
    val data = spark.read.parquet(s"$path/data")
      .select("_id", "key", "value", "_ck", "_kb").collect()
    assert(data.map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2)))
      .toMap == model.toMap, "data rows vs model")
    assert(data.length == model.size, "one row per live doc")
    assert(data.forall(r => r.getInt(4) == kbOf(r.getAs[Array[Byte]](3))),
      "data rows routed to the bucket of their key")
    val sidecar = spark.read.parquet(s"$path/ids").select("_id", "_kb")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(sidecar.toSet == data.map(r => (r.getLong(0), r.getInt(4))).toSet,
      "sidecar (_id, _kb) pairs vs the data rows")
    assert(sidecar.length == sidecar.toSet.size, "sidecar pairs are distinct")
    val want = model.values.groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(_._2).sum }
    val reduced = spark.read.parquet(s"$path/reduced")
      .select("key", "value", "_ck", "_kb").collect()
    assert(reduced.map(r => r.getString(0) -> r.getDouble(1)).toMap == want,
      "reduced rows vs model")
    assert(reduced.length == want.size, "one reduced row per live key")
    assert(reduced.forall(r => r.getInt(3) == kbOf(r.getAs[Array[Byte]](2))),
      "reduced rows in the bucket of their key")
    assert(meta.reducedGroups == want.size, "stored reduced group count")
    val left = Files.list(Paths.get(path)).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith("._tmp") || n == "_graft_swap").toSeq
    assert(left.isEmpty, s"leftovers after a batch: $left")
  }

  for (seed <- Seq(7L, 19L))
    test(s"maintained index matches the model batch by batch (seed $seed)") {
      run(seed, unknownStamp = false)
    }

  test("an unknown (-1) reduced group count is recounted, then kept as a delta") {
    run(23L, unknownStamp = true)
  }
}
