package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.types._

/** Seeded value derivation: every image is a pure function of
  * (seed, table, key, version), so the generator never stores row payloads
  * and the oracle can rebuild any expected row from a version number.
  */
object Mix {
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, table: Int, key: Long, ver: Int): Long =
    mix64(mix64(seed ^ (table.toLong << 48)) ^ mix64(key) ^ (ver.toLong * 0x632BE59BD9B4E019L))
}

/** Zipf(s) sampler over ranks [0, n) by inverse CDF, with the rank scattered
  * over the key space by a multiplier coprime to n so hot keys land in many
  * sink buckets rather than in one contiguous range.
  */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val c = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); c(i) = acc; i += 1 }
    i = 0
    while (i < n) { c(i) /= acc; i += 1 }
    c
  }
  private val mult: Long = {
    var m = 1000003L
    while (BigInt(m).gcd(BigInt(n)) != 1) m += 2
    m
  }
  def rank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
  def sample(rng: java.util.SplittableRandom): Int = ((rank(rng.nextDouble()) * mult) % n).toInt
}

/** Row shape of one source table: its JSON image, its filter, and the row the
  * sink should hold for an image (after the pipeline's transform).
  */
trait Kind extends Serializable {
  /** Source columns as the pipeline YAML declares them. */
  def sourceDdl: String
  def imageJson(sb: java.lang.StringBuilder, seed: Long, tab: Int, key: Long, ver: Int, postDdl: Boolean): Unit
  /** Whether the transform's filter keeps this image. */
  def passes(seed: Long, tab: Int, key: Long, ver: Int): Boolean = true
  /** Expected sink values, in [[Oracle.Expected.schema]] order. */
  def sinkValues(seed: Long, tab: Int, key: Long, ver: Int, seq: Long, postDdl: Boolean): Array[Any]
}

/** `id BIGINT, name STRING, balance BIGINT, ver INT`, sunk unchanged. */
object AccountKind extends Kind {
  val sourceDdl = "id BIGINT, name STRING, balance BIGINT, ver INT"
  val sinkSchema: StructType = StructType(Seq(StructField("id", LongType), StructField("name", StringType),
    StructField("balance", LongType), StructField("ver", IntegerType)))
  def name(x: Long): String = "n" + java.lang.Long.toHexString(x & 0xFFFFFFFFFFL)
  def balance(x: Long): Long = (x >>> 20) % 1000000L
  def imageJson(sb: java.lang.StringBuilder, seed: Long, tab: Int, key: Long, ver: Int, postDdl: Boolean): Unit = {
    val v = sinkValues(seed, tab, key, ver, 0L, postDdl)
    sb.append("{\"id\":").append(key).append(",\"name\":\"").append(v(1))
      .append("\",\"balance\":").append(v(2)).append(",\"ver\":").append(ver).append('}')
  }
  /** Version 0 is the preloaded image, [[preload]] computes it in Spark. */
  def sinkValues(seed: Long, tab: Int, key: Long, ver: Int, seq: Long, postDdl: Boolean): Array[Any] =
    if (ver == 0) Array(key, "p" + key, key * 7919 % 1000000L, 0)
    else { val x = Mix.h(seed, tab, key, ver); Array(key, name(x), balance(x), ver) }
  /** Version-0 images of keys [0, n), as the snapshot a preload hands the pipeline. */
  def preload(spark: org.apache.spark.sql.SparkSession, n: Long): org.apache.spark.sql.DataFrame =
    spark.range(n).selectExpr("id", "concat('p', CAST(id AS STRING)) AS name",
      "id * 7919 % 1000000 AS balance", "0 AS ver")
}

/** Catch-up customers: projected with computed columns, `PII_REDACT` and a
  * filter (`status <> 'spam'`), and later widened `age INT -> BIGINT`.
  */
object CustomerKind extends Kind {
  val sourceDdl = "id BIGINT, name STRING, contact STRING, age INT, status STRING"
  val projection = "id, UPPER(name) AS name, PII_REDACT(contact) AS contact, age, age * 12 AS age_months, op_ts AS changed_at"
  val filter = "status <> 'spam'"
  /** The sink table after the widening. */
  val sinkSchema: StructType = StructType(Seq(StructField("id", LongType), StructField("name", StringType),
    StructField("contact", StringType), StructField("age", LongType), StructField("age_months", LongType),
    StructField("changed_at", LongType)))
  private def spam(x: Long): Boolean = (x & 31L) == 7L
  def imageJson(sb: java.lang.StringBuilder, seed: Long, tab: Int, key: Long, ver: Int, postDdl: Boolean): Unit = {
    val x = Mix.h(seed, tab, key, ver)
    sb.append("{\"id\":").append(key).append(",\"name\":\"cust").append(java.lang.Long.toHexString(x >>> 36))
      .append("\",\"contact\":\"ask ").append(key).append(": mail c").append(key).append("@shop")
      .append(x & 0xFF).append(".com or 25-").append(100 + (x >>> 8) % 900).append("-741-2988\",\"age\":")
      .append(18 + (x >>> 16) % 70).append(",\"status\":\"").append(if (spam(x)) "spam" else "ok").append("\"}")
  }
  override def passes(seed: Long, tab: Int, key: Long, ver: Int): Boolean = !spam(Mix.h(seed, tab, key, ver))
  def sinkValues(seed: Long, tab: Int, key: Long, ver: Int, seq: Long, postDdl: Boolean): Array[Any] = {
    val x = Mix.h(seed, tab, key, ver)
    val age = 18L + (x >>> 16) % 70
    Array(key, "CUST" + java.lang.Long.toHexString(x >>> 36).toUpperCase(java.util.Locale.ROOT),
      s"ask $key: mail <EMAIL> or <PHONE>", age, age * 12, seq)
  }
}

/** Catch-up order shards: shard 0 keys are INT, shard 1 keys BIGINT beyond
  * the INT range; both route N→1 into one sink table whose key widens. Shard
  * 0 gains a `note` column in-band mid-feed.
  */
final case class OrderKind(shard: Int) extends Kind {
  def sourceDdl: String =
    if (shard == 0) "order_id INT, customer_id INT, amount INT, status STRING"
    else "order_id BIGINT, customer_id BIGINT, amount BIGINT, status STRING"
  def imageJson(sb: java.lang.StringBuilder, seed: Long, tab: Int, key: Long, ver: Int, postDdl: Boolean): Unit = {
    val x = Mix.h(seed, tab, key, ver)
    sb.append("{\"order_id\":").append(key).append(",\"customer_id\":").append((x >>> 12) % 100000)
      .append(",\"amount\":").append((x >>> 32) % 50000).append(",\"status\":\"")
      .append(OrderKind.statuses(((x >>> 3) & 3).toInt)).append('"')
    if (postDdl && shard == 0) sb.append(",\"note\":\"n").append(x & 0xFFFF).append('"')
    sb.append('}')
  }
  def sinkValues(seed: Long, tab: Int, key: Long, ver: Int, seq: Long, postDdl: Boolean): Array[Any] = {
    val x = Mix.h(seed, tab, key, ver)
    Array(key, (x >>> 12) % 100000, (x >>> 32) % 50000, OrderKind.statuses(((x >>> 3) & 3).toInt),
      if (postDdl && shard == 0) "n" + (x & 0xFFFF) else null)
  }
}
object OrderKind {
  val statuses: Array[String] = Array("new", "paid", "shipped", "closed")
  val ShardOneBase = 3000000000L
  /** The merged sink table after `AddColumn(note)`. */
  val sinkSchema: StructType = StructType(Seq(StructField("order_id", LongType),
    StructField("customer_id", LongType), StructField("amount", LongType), StructField("status", StringType),
    StructField("note", StringType)))
}

/** One source table's truth plus the sink state the pipeline should reach.
  * Keys are dense indices [0, cap) mapped to PK values `base + idx`.
  */
final class TableModel(val db: String, val table: String, val tab: Int, val kind: Kind,
                       val cap: Int, val base: Long, val seed: Long) {
  val ver: Array[Int] = Array.fill(cap)(-1)
  val alive = new java.util.BitSet(cap)
  // expected sink image per key: version and sequence of the applied event
  val sinkVer: Array[Int] = Array.fill(cap)(-1)
  val sinkSeq: Array[Long] = new Array[Long](cap)
  val sinkAlive = new java.util.BitSet(cap)
  val events: Array[Int] = new Array[Int](cap)
  /** Sequence of the in-band DDL that changed this table's image, if any. */
  var ddlSeq: Long = Long.MaxValue
  val sourceHeader: String = s""""source":{"db":"$db","table":"$table"}}"""

  def key(idx: Int): Long = base + idx
  def postDdl(seq: Long): Boolean = seq > ddlSeq

  private def image(sb: java.lang.StringBuilder, idx: Int, v: Int, seq: Long): Unit =
    kind.imageJson(sb, seed, tab, key(idx), v, postDdl(seq))

  private def applyUpsert(idx: Int, v: Int, seq: Long): Unit =
    if (kind.passes(seed, tab, key(idx), v)) { sinkAlive.set(idx); sinkVer(idx) = v; sinkSeq(idx) = seq }
  private def applyDelete(idx: Int, vBefore: Int): Unit =
    if (kind.passes(seed, tab, key(idx), vBefore)) sinkAlive.clear(idx)

  /** One debezium envelope; an image index of -1 renders as `null`. */
  private def envelope(sb: java.lang.StringBuilder, bIdx: Int, bVer: Int, aIdx: Int, aVer: Int,
                       op: Char, seq: Long): Unit = {
    sb.append("{\"before\":")
    if (bIdx < 0) sb.append("null") else image(sb, bIdx, bVer, seq)
    sb.append(",\"after\":")
    if (aIdx < 0) sb.append("null") else image(sb, aIdx, aVer, seq)
    sb.append(",\"op\":\"").append(op).append("\",\"ts_ms\":").append(seq).append(',').append(sourceHeader)
  }

  /** Snapshot row of a key that is not yet present (`op: r`), or a preload
    * that reaches the sink outside the feed (`emit = false`).
    */
  def snapshot(sb: java.lang.StringBuilder, idx: Int, seq: Long, emit: Boolean = true): Unit = {
    require(!alive.get(idx), s"$table key $idx already present")
    ver(idx) += 1; alive.set(idx)
    if (emit) {
      val v = ver(idx)
      envelope(sb, -1, 0, idx, v, 'r', seq); events(idx) += 1
    }
    applyUpsert(idx, ver(idx), seq)
  }
  def insert(sb: java.lang.StringBuilder, idx: Int, seq: Long): Unit = {
    require(!alive.get(idx))
    ver(idx) += 1; alive.set(idx); events(idx) += 1
    val v = ver(idx)
    envelope(sb, -1, 0, idx, v, 'c', seq)
    applyUpsert(idx, v, seq)
  }
  def update(sb: java.lang.StringBuilder, idx: Int, seq: Long): Unit = {
    require(alive.get(idx))
    val b = ver(idx); ver(idx) += 1; events(idx) += 1
    val a = ver(idx)
    envelope(sb, idx, b, idx, a, 'u', seq)
    applyUpsert(idx, a, seq)
  }
  def delete(sb: java.lang.StringBuilder, idx: Int, seq: Long): Unit = {
    require(alive.get(idx))
    val b = ver(idx); alive.clear(idx); events(idx) += 1
    envelope(sb, idx, b, -1, 0, 'd', seq)
    applyDelete(idx, b)
  }
  /** Update that moves a row from key `from` to the absent key `to`. */
  def pkChange(sb: java.lang.StringBuilder, from: Int, to: Int, seq: Long): Unit = {
    require(alive.get(from) && !alive.get(to))
    val b = ver(from); alive.clear(from); ver(to) += 1; alive.set(to)
    events(from) += 1; events(to) += 1
    val a = ver(to)
    envelope(sb, from, b, to, a, 'u', seq)
    applyDelete(from, b)
    applyUpsert(to, a, seq)
  }
}

/** Feed files: each is written outside the source dir and renamed in, so
  * the file source never lists a half-written file.
  */
final class FeedDir(val dir: Path, staging: Path) {
  Files.createDirectories(dir); Files.createDirectories(staging)
  def publish(name: String, bytes: Array[Byte]): Unit = {
    val tmp = staging.resolve(name)
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}

/** A pre-rendered feed file: its name, payload and event count. */
final case class FeedFile(name: String, bytes: Array[Byte], events: Int)

object FeedFile {
  def of(name: String, lines: java.lang.StringBuilder, events: Int): FeedFile =
    FeedFile(name, lines.toString.getBytes(UTF_8), events)
}
