package graftbench

import scala.collection.mutable

/** Seeded input generator and the model the benchmark checks outputs
  * against. Every value is a pure function of (seed, key, version), so the
  * driver-side model and the rows Spark writes agree without shipping data
  * back: the model only tracks which keys live, in which partition, at which
  * version.
  */
object Gen {

  /** splitmix64 finalizer: the one hash every generated value derives from. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def h(seed: Long, a: Long, b: Long): Long = mix(mix(seed ^ mix(a)) + b)

  /** Non-negative draw in [0, n). */
  def draw(seed: Long, a: Long, b: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(h(seed, a, b), n.toLong).toInt

  def monthName(m: Int): String = f"${1992 + m / 12}%04d-${m % 12 + 1}%02d"

  private val Flags = Array("A", "N", "R")
  private val Alphabet = "abcdefghijklmnopqrstuvwxyz "

  /** A lineitem-shaped row for key `rk` at version `ver`. `base` is the
    * key the value columns derive from: the ×N replication copies a base
    * row's values under a new key, as a key-offset replication of lineitem
    * does.
    */
  def item(seed: Long, rk: Long, ver: Long, month: String, base: Long): Item = {
    val a = h(seed, base, ver)
    val b = mix(a)
    val note = new StringBuilder(24)
    var x = b
    var i = 0
    while (i < 24) {
      note.append(Alphabet.charAt(java.lang.Long.remainderUnsigned(x, 27).toInt))
      x = mix(x + i); i += 1
    }
    Item(rk,
      orderkey = (base >>> 2) * 7 + (rk - base),
      partkey = java.lang.Long.remainderUnsigned(a, 20000L),
      qty = 1 + java.lang.Long.remainderUnsigned(a >>> 17, 50L).toInt,
      price = 90000L + java.lang.Long.remainderUnsigned(b, 10000000L),
      flag = Flags(java.lang.Long.remainderUnsigned(b >>> 40, 3L).toInt),
      note = note.toString, ver = ver, month = month)
  }

  /** Bytes of one row's user fields as the caller hands them over: the
    * base of write amplification.
    */
  def userBytes(it: Item): Long =
    8L * 5 + 4 + it.flag.length + it.note.length + it.month.length

  /** Order-independent digest term of one (key, version) pair; summed over
    * a snapshot it checks every key's surviving version at once.
    */
  def digest(rk: Long, ver: Long): Long = (rk * 1000003L + ver * 7919L + 17L) % 1000000007L
  /** [[digest]] as a SQL expression over the key column `key` and `ver`. */
  def digestSql(key: String): String = s"($key * 1000003 + ver * 7919 + 17) % 1000000007"

  // ---------------------------------------------------------------- corpus

  private val Vocab: Array[String] = Array.tabulate(4000) { i =>
    val sb = new StringBuilder
    var x = mix(i.toLong + 99)
    val len = 3 + (i % 6)
    var j = 0
    while (j < len) {
      sb.append(('a' + java.lang.Long.remainderUnsigned(x, 26).toInt).toChar)
      x = mix(x); j += 1
    }
    sb.append(i) // distinct words even when the letters collide
    sb.toString
  }

  /** A document text of 30–59 words; a text is a function of (seed, salt). */
  def text(seed: Long, salt: Long): String = {
    val n = 30 + draw(seed, salt, -1L, 30)
    (0 until n).map(j => Vocab(draw(seed, salt, j.toLong, Vocab.length))).mkString(" ")
  }

  def markerToken(seed: Long, step: Int): String =
    s"zqmarker${java.lang.Long.toHexString(seed & 0xffffffL)}s$step"
}

final case class Item(
    rk: Long, orderkey: Long, partkey: Long, qty: Int, price: Long,
    flag: String, note: String, ver: Long, month: String)

/** Live keys per partition with O(1) random pick and removal: the model of
  * a keyed, partitioned table the benchmark mutates.
  */
final class KeyModel(val parts: Int) {
  private val keys = Array.fill(parts)(mutable.ArrayBuffer.empty[Long])
  private val where = mutable.LongMap.empty[Long] // rk -> (part << 32 | slot)
  val ver = mutable.LongMap.empty[Long]

  def size: Int = where.size
  def partSize(p: Int): Int = keys(p).size
  def contains(rk: Long): Boolean = where.contains(rk)
  def partOf(rk: Long): Int = (where(rk) >>> 32).toInt

  def add(rk: Long, p: Int, v: Long): Unit = {
    if (!where.contains(rk)) {
      where(rk) = (p.toLong << 32) | keys(p).size.toLong
      keys(p) += rk
    }
    ver(rk) = v
  }

  def remove(rk: Long): Unit = {
    val w = where.remove(rk).get
    val p = (w >>> 32).toInt
    val slot = (w & 0xffffffffL).toInt
    val buf = keys(p)
    val last = buf.remove(buf.size - 1)
    if (last != rk) {
      buf(slot) = last
      where(last) = (p.toLong << 32) | slot.toLong
    }
    ver.remove(rk)
  }

  def pick(p: Int, r: Long): Long = keys(p)(java.lang.Long.remainderUnsigned(r, keys(p).size.toLong).toInt)

  def all: Iterator[(Long, Int, Long)] =
    keys.iterator.zipWithIndex.flatMap { case (b, p) => b.iterator.map(rk => (rk, p, ver(rk))) }
}
