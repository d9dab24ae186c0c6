package perfbench

import scala.util.Random

/** Seeded input generators. Every input the engine sees comes from
  * here: the same seed gives the same rows, keys and documents. Stream
  * ids keep the workloads' random streams apart.
  */
object Gen {

  def rng(seed: Long, stream: Long): Random = new Random(seed * 1000003L + stream * 7919L)

  // ---- etl_merge: raw lineitem-shaped change batches -------------------

  /** One raw source row, as the upstream system delivers it: numbers
    * arrive as strings, the flag with stray case and padding.
    */
  final case class RawLine(orderkey: java.lang.Long, linenumber: Long, quantity: String,
                           extendedprice: String, returnflag: String, comment: String)

  /** The silver row the pipeline should produce for a RawLine that
    * passes validation (the model's view; no engine code involved).
    */
  final case class SilverLine(orderkey: Long, linenumber: Long, quantity: Option[Long],
                              priceCents: Long, returnflag: String, comment: String) {
    def hash: Long = Util.rowHash(orderkey, linenumber, quantity, priceCents, returnflag, comment)
  }

  private val flags = Array("A", "N", "R")
  private val words = Array("quick", "slyly", "final", "deposits", "bold", "ideas",
    "pending", "requests", "furious", "packages", "ironic", "accounts", "regular",
    "theodolites", "express", "pinto", "beans", "blithely", "careful", "foxes")

  def comment(r: Random): String =
    Seq.fill(3 + r.nextInt(5))(words(r.nextInt(words.length))).mkString(" ")

  def cleanLine(r: Random, ok: Long, ln: Long): RawLine = {
    val cents = 100L + r.nextInt(10000000)
    val f = flags(r.nextInt(3))
    val padded = r.nextInt(4) match {
      case 0 => f.toLowerCase
      case 1 => s" $f"
      case 2 => s"$f  "
      case _ => f
    }
    RawLine(ok, ln, (1 + r.nextInt(50)).toString, f"${cents / 100}%d.${cents % 100}%02d",
      padded, comment(r))
  }

  /** The model of the silver transform + validation for one raw row:
    * None when a `drop` rule removes it.
    */
  def silverOf(l: RawLine): Option[SilverLine] = {
    if (l.orderkey == null) return None                              // not_null, drop
    val qty = l.quantity.toLongOption                                  // try_cast
    if (qty.exists(_ < 1)) return None                               // >= 1, drop (null passes)
    val cents = (BigDecimal(l.extendedprice) * 100).toLongExact
    Some(SilverLine(l.orderkey, l.linenumber, qty, cents,
      l.returnflag.trim.toUpperCase, l.comment))                      // isin: warn only
  }

  /** Base table: `orders` × 4 line numbers, all clean. */
  def etlBase(seed: Long, orders: Int): Seq[RawLine] = {
    val r = rng(seed, 1)
    for { ok <- 1L to orders.toLong; ln <- 1L to 4L } yield cleanLine(r, ok, ln)
  }

  /** A change batch of `n` rows against the live key set: 60% updates
    * of existing keys, 30% new keys, 10% dirty rows (null key, quantity
    * below 1, non-numeric quantity, unknown flag). Keys are distinct
    * within a batch.
    */
  def etlBatch(r: Random, live: IndexedSeq[(Long, Long)], nextOrder: Long, n: Int): Seq[RawLine] = {
    val nUpd = n * 6 / 10
    val nNew = n * 3 / 10
    val nDirty = n - nUpd - nNew
    val upd = r.shuffle(live.indices.toVector).take(nUpd + nDirty).map(live)
    val newKeys = (0 until nNew).map(i => (nextOrder + i / 4, 1L + i % 4))
    val clean = (upd.take(nUpd) ++ newKeys).map { case (ok, ln) => cleanLine(r, ok, ln) }
    val dirty = upd.drop(nUpd).zipWithIndex.map { case ((ok, ln), i) =>
      val c = cleanLine(r, ok, ln)
      i % 4 match {
        case 0 => c.copy(orderkey = null)
        case 1 => c.copy(quantity = (-r.nextInt(3)).toString)
        case 2 => c.copy(quantity = "n/a")
        case _ => c.copy(returnflag = "Z")
      }
    }
    r.shuffle(clean ++ dirty)
  }

  // ---- dml_mix: orders-shaped rows and the op cycle --------------------

  final case class Order(o_orderkey: Long, o_custkey: Long, o_status: String,
                         o_price_cents: Long, o_comment: String) {
    def hash: Long = Util.rowHash(o_orderkey, o_custkey, o_status, o_price_cents, o_comment)
  }

  private val statuses = Array("O", "F", "P")

  def order(r: Random, key: Long, customers: Int): Order =
    Order(key, 1L + r.nextInt(customers), statuses(r.nextInt(3)),
      100L + r.nextInt(50000000), comment(r))

  /** The closed loop's cycle of 10 ops: every op at a fixed share, in
    * a fixed order that alternates writes and reads, so every seed
    * meets the same table states and the same latest-snapshot cache
    * hits and misses; the seed drives the rows, keys and customers.
    */
  val dmlCycle: IndexedSeq[String] = IndexedSeq(
    "append", "read_latest", "merge", "read_tt", "update", "read_changes",
    "delete", "read_latest", "append", "read_tt")

  // ---- curate_corpus: Markov text with injected duplicates -------------

  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "si", "de", "pa",
    "go", "le", "mu", "ri", "fa", "ze", "bo", "ti", "na", "co", "sel", "mar", "dun", "pik")
  private val stop = Array("the", "and", "of", "to", "is", "in", "that", "with")

  /** Fixed vocabulary (seed-independent) with a sparse successor table,
    * so bigrams recur across documents (the LM filter needs that) while
    * long word n-grams stay rare (decontamination and span dedup then
    * only fire on real copies).
    */
  private val vocab: Array[String] = {
    val r = new Random(11)
    def word = (1 to 2 + r.nextInt(2)).map(_ => syllables(r.nextInt(syllables.length))).mkString
    Iterator.continually(word).distinct.take(600).toArray
  }
  private val successors: Array[Array[Int]] = {
    val r = new Random(13)
    Array.fill(vocab.length)(Array.fill(8)(r.nextInt(vocab.length)))
  }

  def text(r: Random, nWords: Int): String = {
    val sb = new StringBuilder
    var w = r.nextInt(vocab.length)
    var i = 0
    while (i < nWords) {
      if (i > 0) sb.append(' ')
      sb.append(vocab(w))
      if (r.nextDouble() < 0.35) { sb.append(' ').append(stop(r.nextInt(stop.length))); i += 1 }
      if (r.nextDouble() < 0.08) sb.append('.')
      w = if (r.nextDouble() < 0.85) successors(w)(r.nextInt(8)) else r.nextInt(vocab.length)
      i += 1
    }
    sb.toString
  }

  /** Replace about 2% of the words (at least one): a near-duplicate. */
  def edit(r: Random, t: String): String = {
    val ws = t.split(" ")
    val k = math.max(1, ws.length / 50)
    (0 until k).foreach(_ => ws(r.nextInt(ws.length)) = vocab(r.nextInt(vocab.length)))
    ws.mkString(" ")
  }

  final case class Doc(doc_id: Long, text: String)

  /** A corpus batch: `n` original documents with ids from `base`, then
    * `exactShare` exact copies and `nearShare` edited copies of random
    * originals under higher ids. Returns the docs and the ids of the
    * injected exact copies.
    */
  def corpus(r: Random, base: Long, n: Int, exactShare: Double,
             nearShare: Double): (Seq[Doc], Set[Long]) = {
    val orig = (0 until n).map(i => Doc(base + i, text(r, 40 + r.nextInt(80))))
    val nExact = (n * exactShare).toInt
    val nNear = (n * nearShare).toInt
    val exact = (0 until nExact).map(i => Doc(base + n + i, orig(r.nextInt(n)).text))
    val near = (0 until nNear).map(i =>
      Doc(base + n + nExact + i, edit(r, orig(r.nextInt(n)).text)))
    (orig ++ exact ++ near, exact.map(_.doc_id).toSet)
  }

  /** An incremental-dedup batch against `store`: new documents plus
    * exact and edited copies of stored ones. Returns the docs and the
    * ids of the exact copies (which must not survive).
    */
  def deltaBatch(r: Random, base: Long, n: Int, store: IndexedSeq[Doc],
                 copyShare: Double): (Seq[Doc], Set[Long]) = {
    val nCopy = (n * copyShare).toInt
    val fresh = (0 until n - 2 * nCopy).map(i => Doc(base + i, text(r, 40 + r.nextInt(80))))
    val exact = (0 until nCopy).map(i =>
      Doc(base + n - 2 * nCopy + i, store(r.nextInt(store.size)).text))
    val near = (0 until nCopy).map(i =>
      Doc(base + n - nCopy + i, edit(r, store(r.nextInt(store.size)).text)))
    (fresh ++ exact ++ near, exact.map(_.doc_id).toSet)
  }
}
