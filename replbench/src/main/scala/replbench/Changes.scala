package replbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One lineitem change, compact: images are named by version, not stored.
  * Version 0 is the base row, v > 0 the v-th generated image, -1 absent. */
final case class Change(op: String, pos: Long, key: Long, before: Long, after: Long)

/** A seeded change stream over lineitem: 60% updates, 20% inserts at new
  * keys, 20% deletes, keys uniform over the live set. The generator keeps
  * only the live-key set it samples from; [[Model]] replays any prefix. */
final class ChangeGen(data: Data, seed: Long, startPos: Long) {
  private val rng = new java.util.SplittableRandom(seed)
  private var live = data.baseKeys
  private var size = live.length
  private val slot = mutable.LongMap.empty[Int]
  (0 until size).foreach(i => slot.update(live(i), i))
  private val version = mutable.LongMap.empty[Long]
  private var nextOrder = data.orders.toLong + 1
  private var nextVersion = 1L
  private var pos = startPos

  private def cur(k: Long): Long = version.getOrElse(k, 0L)

  private def add(k: Long): Unit = {
    if (size == live.length) live = java.util.Arrays.copyOf(live, size * 2)
    live(size) = k; slot.update(k, size); size += 1
  }
  private def remove(k: Long): Unit = {
    val i = slot(k); val last = live(size - 1)
    live(i) = last; slot.update(last, i); slot.remove(k); size -= 1
  }

  def next(): Change = {
    pos += 1
    val r = rng.nextInt(100)
    if (r < 20) {
      val k = nextOrder * 8 + 1; nextOrder += 1
      val v = nextVersion; nextVersion += 1
      add(k); version.update(k, v)
      Change("insert", pos, k, -1L, v)
    } else {
      val k = live(rng.nextInt(size))
      val before = cur(k)
      if (r < 40) { remove(k); version.update(k, -1L); Change("delete", pos, k, before, -1L) }
      else {
        val v = nextVersion; nextVersion += 1
        version.update(k, v); Change("update", pos, k, before, v)
      }
    }
  }

  def batch(n: Int): Vector[Change] = Vector.fill(n)(next())

  /** `n` keys drawn uniformly from the base key space (some get deleted). */
  def baseKeys(n: Int, base: Array[Long]): Vector[Long] =
    Vector.fill(n)(base(rng.nextInt(base.length)))
}

object Changes {
  def image(data: Data, key: Long, v: Long): Row =
    if (v < 0) null else { val (ok, ln) = Data.unpack(key); data.lineRow(ok, ln, v) }

  /** The envelope rows of `cs` as a local DataFrame. */
  def frame(spark: SparkSession, data: Data, cs: Seq[Change]): DataFrame =
    Data.local(spark, cs.map(c =>
      Row("lineitem", c.op, c.pos, image(data, c.key, c.before), image(data, c.key, c.after))),
      Data.EnvelopeSchema)
}

/** The state a replica must hold after a prefix of a change stream. */
final class Model(changes: IndexedSeq[Change]) {
  /** key -> (change index, version after) in stream order. */
  private lazy val history: Map[Long, IndexedSeq[(Int, Long)]] =
    changes.indices.map(i => (changes(i).key, (i, changes(i).after))).groupMap(_._1)(_._2)

  /** Version of `key` after the first `applied` changes (0 = base row,
    * -1 = absent; keys beyond the base that were never inserted are -1). */
  def versionAt(key: Long, applied: Int, isBase: Boolean): Long =
    history.get(key).flatMap(_.takeWhile(_._1 < applied).lastOption.map(_._2))
      .getOrElse(if (isBase) 0L else -1L)

  /** Every key touched by the first `applied` changes, with its final version. */
  def finalVersions(applied: Int): Map[Long, Long] = {
    val m = mutable.LongMap.empty[Long]
    var i = 0
    while (i < applied) { val c = changes(i); m.update(c.key, c.after); i += 1 }
    m.toMap
  }
}
