package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables

/** Seeded CockroachDB-style changefeed over a ride table, with its
  * ground truth.
  *
  * The ride table is `orders ⋈ customer`, mapped as q60 maps it:
  * `id = o_orderkey`, `city = c_mktsegment`, `revenue` = the order total
  * as a cents string; the key is `[city, id]`. Every order is inserted
  * in `o_orderdate` order. Interleaved with the inserts come updates
  * (new revenue) and `after: null` deletes of earlier live rides. HLCs
  * are `"<wall-ns>.<10-digit logical>"`: wall time follows the order
  * date, and a few updates land on the same wall time as the key's
  * previous change with the logical tick advanced, as two transactions
  * on one key within one clock tick do.
  *
  * The feed is cut into drop files. Each drop also re-emits about 5% of
  * the previous drop's lines (the sink is at-least-once) and carries up
  * to two malformed lines. The same seed gives byte-identical drops, and
  * asking for fewer drops gives a prefix of the same feed.
  *
  * Only the 5% redelivery share follows the repository's fixture
  * description (FIXTURES.md §2). The other traffic parameters — the
  * update, delete and same-tick shares here and the drop size in
  * `CdcWorkload` — are assumptions of this benchmark, not taken from a
  * measured CockroachDB changefeed. Figures that depend on drop size or
  * update share hold for these values only.
  */
object Changefeed {

  /** One distinct change; `revenue` None is a delete. */
  final case class Change(kid: String, hlc: String, revenue: Option[String])

  final case class Drop(index: Int, lines: IndexedSeq[String], changes: IndexedSeq[Change],
      redelivered: Int, malformed: Int) {
    lazy val bytes: Array[Byte] = lines.mkString("", "\n", "\n").getBytes(UTF_8)
  }

  /** Assumed: one update of an earlier ride per ten inserts. */
  val UpdateShare = 0.10
  /** Assumed: three deletes per hundred inserts. */
  val DeleteShare = 0.03
  /** Assumed: a second change on the same key within one wall-clock tick. */
  val SameTickShare = 0.0005
  /** FIXTURES.md §2: each file re-emits about 5% of earlier lines. */
  val RedeliveredShare = 0.05

  final case class Ride(id: Long, city: String, cents: Long, dayNs: Long)

  /** The ride table, ordered by order date then key. */
  def rides(spark: SparkSession, data: String): IndexedSeq[Ride] = {
    val o = Tables.orders(spark, data); val c = Tables.customer(spark, data)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment"),
        round(col("o_totalprice") * 100).cast("long"),
        (unix_micros(col("o_orderdate").cast("timestamp")) * 1000L))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .collect().toIndexedSeq
      .map(r => Ride(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
  }

  private def money(cents: Long): String = {
    val c = cents % 100
    s"${cents / 100}.${if (c < 10) "0" else ""}$c"
  }

  private def line(city: String, id: Long, hlc: String, revenue: Option[String]): String = {
    val after = revenue.fold("null")(r => s"""{"id": $id, "city": "$city", "revenue": "$r"}""")
    s"""{"after": $after, "key": ["$city", "$id"], "updated": "$hlc"}"""
  }

  /** The first `maxDrops` drops of the feed (fewer if the rides run out). */
  def generate(rides: IndexedSeq[Ride], seed: Long, changesPerDrop: Int, maxDrops: Int): IndexedSeq[Drop] = {
    val rng = new SplittableRandom(seed)
    // drop assembly draws from its own stream, so that where the change
    // stream stops does not alter the drops
    val dropRng = rng.split()
    val wanted = maxDrops.toLong * changesPerDrop
    val changes = mutable.ArrayBuffer[(Change, String)]()
    // live rides, for picking update and delete targets (swap-remove)
    val live = mutable.ArrayBuffer[Ride]()
    var prevDay = Long.MinValue; var inDay = 0
    def hlc(wall: Long, logical: Int) = s"$wall.${"0" * 9}$logical"
    def emit(r: Ride, wall: Long, logical: Int, rev: Option[String]): Unit = {
      val h = hlc(wall, logical)
      changes += Change(s"${r.city}|${r.id}", h, rev) -> line(r.city, r.id, h, rev)
    }
    def update(r: Ride, wall: Long): Unit = {
      emit(r, wall, 0, Some(money(100 + rng.nextLong(50_000_000L))))
      if (rng.nextDouble() < SameTickShare)
        emit(r, wall, 1, Some(money(100 + rng.nextLong(50_000_000L))))
    }
    rides.iterator.takeWhile(_ => changes.size < wanted).foreach { r =>
      inDay = if (r.dayNs == prevDay) inDay + 1 else 0
      prevDay = r.dayNs
      // one minute per order within its day, a random offset inside it
      val wall = r.dayNs + inDay * 60_000_000_000L + rng.nextLong(50_000_000_000L)
      emit(r, wall, 0, Some(money(r.cents)))
      if (rng.nextDouble() < SameTickShare) emit(r, wall, 1, Some(money(r.cents + 1)))
      live += r
      if (rng.nextDouble() < UpdateShare)
        update(live(rng.nextInt(live.size)), wall + 1_000_000L + rng.nextLong(1_000_000L))
      if (rng.nextDouble() < DeleteShare && live.size > 1) {
        val i = rng.nextInt(live.size)
        val victim = live(i)
        live(i) = live.last; live.remove(live.size - 1)
        emit(victim, wall + 3_000_000L + rng.nextLong(1_000_000L), 0, None)
      }
    }
    val chunks = changes.grouped(changesPerDrop).take(maxDrops).toIndexedSeq
    var prevLines: IndexedSeq[String] = IndexedSeq.empty
    chunks.zipWithIndex.map { case (chunk, d) =>
      val own = chunk.map(_._2).toIndexedSeq
      val pool = if (d == 0) own else prevLines
      val redelivered = (0 until math.round(own.size * RedeliveredShare).toInt)
        .map(_ => pool(dropRng.nextInt(pool.size)))
      val malformed = (0 until dropRng.nextInt(3)).map { _ =>
        val whole = own(dropRng.nextInt(own.size))
        dropRng.nextInt(3) match {
          case 0 => whole.take(whole.length / 2) // truncated mid-object
          case 1 => whole.replace(""", "updated": """, """, "mvcc": """) // no HLC
          case _ => "not json at all"
        }
      }
      // redelivered copies lead the file, as a retried flush re-sends
      // them before new rows; malformed lines land anywhere
      val ls = mutable.ArrayBuffer[String]() ++ redelivered ++ own
      malformed.foreach(m => ls.insert(dropRng.nextInt(ls.size + 1), m))
      prevLines = own
      Drop(d, ls.toIndexedSeq, chunk.map(_._1).toIndexedSeq, redelivered.size, malformed.size)
    }
  }

  /** Writes the drop files and the ground-truth model: every distinct
    * change per drop (`kid, hlc, revenue` — empty revenue is a delete)
    * and the final state per key. */
  def write(drops: IndexedSeq[Drop], stage: Path, truth: Path): Unit = {
    Files.createDirectories(stage); Files.createDirectories(truth)
    drops.foreach { d =>
      Files.write(stage.resolve(name(d.index)), d.bytes)
      Files.write(truth.resolve(f"changes_${d.index}%04d.tsv"),
        d.changes.map(c => s"${c.kid}\t${c.hlc}\t${c.revenue.getOrElse("")}").mkString("", "\n", "\n")
          .getBytes(UTF_8))
    }
    val state = Truth(); drops.foreach(state.apply)
    Files.write(truth.resolve("final_state.tsv"),
      state.live.toSeq.sorted.map { case (k, r) => s"$k\t$r" }.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  def name(i: Int): String = s"drop_${"%04d".format(i)}.ndjson"

  /** The state model: latest change per key by HLC, deletes remove. */
  final case class Truth() {
    val live = mutable.HashMap[String, String]()
    private val last = mutable.HashMap[String, (Long, Long)]()
    def apply(d: Drop): Unit = d.changes.foreach { c =>
      val Array(w, l) = c.hlc.split('.')
      val h = (w.toLong, l.toLong)
      if (last.get(c.kid).forall(p => Ordering[(Long, Long)].gt(h, p))) {
        last(c.kid) = h
        c.revenue match { case Some(r) => live(c.kid) = r; case None => live.remove(c.kid) }
      }
    }
  }
}
