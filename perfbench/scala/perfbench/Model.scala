package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.model.Cell

/** Seeded input generator and the truth model every response is checked
  * against. Everything here is plain Scala: the engine under test never
  * computes an expected answer.
  *
  * A key's whole write history is a pure function of (seed, shape, key
  * index), so the store's runs are generated in parallel on executors and
  * the truth for any key is rebuilt on the driver on demand.
  */
object Gen {

  /** SplitMix64 finaliser: an independent stream per (seed, parts...). */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def rng(seed: Long, parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(mix(seed))((h, p) => mix(h ^ p)))

  def key(i: Int): String = f"$i%010d"
  val ColNames: Array[Array[Byte]] = Array.tabulate(5)(c => s"C$c".getBytes("UTF-8"))
  val SuperNames: Array[Array[Byte]] = Array.tabulate(3)(c => s"SC$c".getBytes("UTF-8"))
  val SubNames: Array[Array[Byte]] = Array.tabulate(2)(c => s"c$c".getBytes("UTF-8"))

  def value(r: SplittableRandom, n: Int = 32): Array[Byte] = {
    val b = new Array[Byte](n)
    var i = 0
    while (i < n) { b(i) = r.nextInt(256).toByte; i += 1 }
    b
  }

  /** Local deletion time stamped on every generated tombstone; ingest
    * batches stamp older ones too, so a full fold has something to purge.
    */
  val DelTime: Int = 1000000

  def live(k: String, sc: Array[Byte], c: Array[Byte], v: Array[Byte], ts: Long): Cell =
    Cell(k, sc, c, v, ts, tombstone = false, 0)
  def colTomb(k: String, sc: Array[Byte], c: Array[Byte], ts: Long, ldt: Int = DelTime): Cell =
    Cell(k, sc, c, Array.emptyByteArray, ts, tombstone = true, ldt)
  def rowTomb(k: String, ts: Long, ldt: Int = DelTime): Cell =
    Cell(k, null, null, Array.emptyByteArray, ts, tombstone = true, ldt)
  def superTomb(k: String, sc: Array[Byte], ts: Long): Cell =
    Cell(k, sc, null, Array.emptyByteArray, ts, tombstone = true, DelTime)

  /** Write history of standard-CF key `i` over `runs` runs (>= 4):
    * run 0 is the base (C0..C4), runs 1..runs-3 overwrite each cell with
    * probability `overwrite` at a newer timestamp (2% of overwrites tie
    * the current winner's timestamp, so the value decides), run runs-2
    * deletes columns (5%, a tenth of them at the winner's exact
    * timestamp) and rows (2%), and the last run resurrects deleted
    * columns above the mark and writes a few below it that stay shadowed.
    */
  def history(seed: Long, runs: Int, overwrite: Double, i: Int): Array[(Int, Cell)] = {
    val r = rng(seed, 1, i)
    val k = key(i)
    val out = Array.newBuilder[(Int, Cell)]
    val winTs = new Array[Long](ColNames.length)
    for (c <- ColNames.indices) {
      winTs(c) = 1000 + r.nextInt(10)
      out += 0 -> live(k, null, ColNames(c), value(r), winTs(c))
    }
    for (run <- 1 to runs - 3; c <- ColNames.indices if r.nextDouble() < overwrite) {
      val ts = if (r.nextDouble() < 0.02) winTs(c) else 1000L * (run + 1) + r.nextInt(10)
      winTs(c) = math.max(winTs(c), ts)
      out += run -> live(k, null, ColNames(c), value(r), ts)
    }
    val del = runs - 2
    val deleted = new Array[Boolean](ColNames.length)
    for (c <- ColNames.indices if r.nextDouble() < 0.05) {
      val ts = if (r.nextDouble() < 0.1) winTs(c) else 1000L * (del + 1) + r.nextInt(10)
      deleted(c) = true
      out += del -> colTomb(k, null, ColNames(c), ts)
    }
    val rowMark = if (r.nextDouble() < 0.02) 1000L * (del + 1) + 5 else Long.MinValue
    if (rowMark != Long.MinValue) out += del -> rowTomb(k, rowMark)
    val last = runs - 1
    for (c <- ColNames.indices) {
      val dead = deleted(c) || rowMark != Long.MinValue
      if (dead && r.nextDouble() < 0.5)
        out += last -> live(k, null, ColNames(c), value(r), 1000L * (last + 1) + r.nextInt(10))
      else if (dead && r.nextDouble() < 0.2) // below the row mark: stays shadowed
        out += last -> live(k, null, ColNames(c), value(r),
          if (rowMark != Long.MinValue) rowMark else winTs(c) - 1)
    }
    out.result()
  }

  /** Super1-shaped key `i`: SC0..SC2 × c0..c1 base, a supercolumn delete
    * (20% per supercolumn) and overwrites landing both below and above it.
    */
  def superHistory(seed: Long, i: Int): Array[Cell] = {
    val r = rng(seed, 2, i)
    val k = key(i)
    val out = Array.newBuilder[Cell]
    for (s <- SuperNames; c <- SubNames) out += live(k, s, c, value(r), 1000 + r.nextInt(10))
    for (s <- SuperNames) {
      if (r.nextDouble() < 0.2) out += superTomb(k, s, 2000 + r.nextInt(10))
      for (c <- SubNames if r.nextDouble() < 0.3)
        out += live(k, s, c, value(r), 1995 + r.nextInt(20))
    }
    out.result()
  }

  /** The 30 words of the repository bench's sf0.1 `documents` table, whose
    * 270,704 tokens use each about equally often (8,829 to 9,182 times).
    */
  val Vocabulary: Vector[String] = Vector("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  /** A corpus shaped like sf0.1 `documents`, with `edited` near-duplicate
    * copies on top. The measured shape (5,000 docs): 4,750 originals of 10
    * to 99 words, length uniform, words drawn independently and uniformly
    * from [[Vocabulary]]; 250 copies (5%) of another document with the word
    * `dup` appended, a few of them copies of copies, placed anywhere in id
    * order. The `edited` copies each take a random document and replace 1
    * to 3 of its words. Returns the texts by doc id and the planted
    * (source id, copy id) pairs.
    */
  def corpus(seed: Long, docs: Int, edited: Int): (Vector[String], Vector[(Int, Int)]) = {
    val r = rng(seed, 8)
    def word() = Vocabulary(r.nextInt(Vocabulary.size))
    val dupCopies = docs / 20
    // generation order: an original, then originals and dup copies
    // interleaved at random; a copy takes a document generated before it
    val kinds = false +: shuffled(
      Vector.fill(docs - dupCopies - 1)(false) ++ Vector.fill(dupCopies)(true), r)
    val made = mutable.ArrayBuffer.empty[Vector[String]]
    val pairs = mutable.ArrayBuffer.empty[(Int, Int)]
    kinds.zipWithIndex.foreach { case (copy, i) =>
      if (copy) {
        val src = r.nextInt(made.size)
        pairs += src -> i
        made += made(src) :+ "dup"
      } else made += Vector.fill(10 + r.nextInt(90))(word())
    }
    for (_ <- 0 until edited) {
      val src = r.nextInt(docs)
      val w = made(src).toArray
      for (_ <- 0 until 1 + r.nextInt(3)) w(r.nextInt(w.length)) = word()
      pairs += src -> made.size
      made += w.toVector
    }
    // ids in a seeded order, so copies precede their sources as often as not
    val ids = shuffled(made.indices, r)
    val byId = new Array[String](made.size)
    made.indices.foreach(i => byId(ids(i)) = made(i).mkString(" "))
    (byId.toVector, pairs.toVector.map { case (a, b) => (ids(a), ids(b)) })
  }

  /** Gaussian key index over [0, n) with mean n/2 and sd 0.1n (stress.py). */
  def gaussianKey(r: SplittableRandom, n: Int): Int = {
    // Box-Muller: SplittableRandom has no nextGaussian
    val g = math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
    math.min(n - 1, math.max(0, (n / 2 + g * 0.1 * n).toInt))
  }

  /** Seeded Fisher-Yates shuffle. */
  def shuffled[T](deck: Seq[T], r: SplittableRandom): Vector[T] = {
    val a = deck.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[T]]
  }
}

/** One live (super, column) → value of the truth model. `superName` is
  * null on a standard CF.
  */
final case class LiveCell(key: String, superName: Array[Byte], colName: Array[Byte],
    value: Array[Byte], ts: Long) {
  /** Comparable, printable identity of the cell and its value. */
  def sig: String = s"$key|${Truth.hex(superName)}|${Truth.hex(colName)}|${Truth.hex(value)}"
}

object Truth {

  def hex(b: Array[Byte]): String =
    if (b == null) "-" else b.map(x => f"${x & 0xFF}%02x").mkString

  /** Unsigned lexicographic byte order (FBUtilities.compareByteArrays). */
  def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** comparePriority (db/Column.java:196-210): does `a` beat `b`? Higher ts
    * wins; on a tie the tombstone wins; between live values the larger
    * unsigned value wins.
    */
  def beats(a: Cell, b: Cell): Boolean =
    if (a.ts != b.ts) a.ts > b.ts
    else if (a.tombstone != b.tombstone) a.tombstone
    else cmpBytes(a.value, b.value) > 0

  private def nameKey(b: Array[Byte]): String = hex(b)

  /** Reconciled live view of ONE key's cells: LWW per (super, column), then
    * row and supercolumn deletes shadow every cell with ts <= the mark.
    * Sorted by (super, column) in BytesType order.
    */
  def liveCells(cells: Iterable[Cell]): Vector[LiveCell] = {
    val rowMark = cells.iterator.filter(c => c.col_name == null && c.super_name == null)
      .map(_.ts).maxOption.getOrElse(Long.MinValue)
    val superMarks = cells.iterator.filter(c => c.col_name == null && c.super_name != null)
      .toSeq.groupBy(c => nameKey(c.super_name)).view.mapValues(_.map(_.ts).max).toMap
    val winners = cells.iterator.filter(_.col_name != null).toSeq
      .groupBy(c => (nameKey(c.super_name), nameKey(c.col_name)))
      .values.map(_.reduce((a, b) => if (beats(b, a)) b else a))
    winners.iterator
      .filter(w => !w.tombstone && w.ts > rowMark &&
        (w.super_name == null || w.ts > superMarks.getOrElse(nameKey(w.super_name), Long.MinValue)))
      .map(w => LiveCell(w.key, w.super_name, w.col_name, w.value, w.ts))
      .toVector
      .sortWith { (a, b) =>
        val s = if (a.superName == null || b.superName == null) 0
          else cmpBytes(a.superName, b.superName)
        if (s != 0) s < 0 else cmpBytes(a.colName, b.colName) < 0
      }
  }

  /** get_slice over a standard row: first `count` live columns, or the
    * last `count` when reversed.
    */
  def slice(live: Vector[LiveCell], count: Int, reversed: Boolean): Vector[LiveCell] =
    if (reversed) live.reverse.take(count) else live.take(count)

  /** get_slice over a super row: the first `count` live supercolumns, each
    * with every live subcolumn.
    */
  def superSlice(live: Vector[LiveCell], count: Int): Vector[LiveCell] = {
    val names = live.map(c => hex(c.superName)).distinct.take(count).toSet
    live.filter(c => names(hex(c.superName)))
  }

  /** Word 3-shingle set, tokenised like the engine's dedup front end:
    * lower-cased whitespace-separated tokens.
    */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Set.empty
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }
  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0 else (a intersect b).size.toDouble / (a union b).size
  def containment(sub: Set[String], sup: Set[String]): Double =
    if (sub.isEmpty) 0.0 else (sub intersect sup).size.toDouble / sub.size
}
