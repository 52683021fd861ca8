package perfbench

import graft.model.Cell

/** The benchmark's own checks of its truth model and generator, no Spark
  * session needed:
  *
  *   java -cp <classes>:<spark jars>/'*' perfbench.SelfTest
  *
  * Prints one line per failed case and exits non-zero if any failed.
  */
object SelfTest {
  private var failures = 0
  private var cases = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    cases += 1
    val pass = try ok catch { case e: Throwable => println(s"  $name threw $e"); false }
    if (!pass) { failures += 1; println(s"FAIL $name") }
  }

  private val k = "key1"
  private def b(s: String) = s.getBytes("UTF-8")
  private def col(c: String, v: String, ts: Long) = Gen.live(k, null, b(c), b(v), ts)
  private def sub(sc: String, c: String, v: String, ts: Long) = Gen.live(k, b(sc), b(c), b(v), ts)
  private def del(c: String, ts: Long) = Gen.colTomb(k, null, b(c), ts)
  private def rowDel(ts: Long) = Gen.rowTomb(k, ts)
  private def superDel(sc: String, ts: Long) = Gen.superTomb(k, b(sc), ts)
  /** Live (super, column) = value of one key, as printable strings. */
  private def live(cells: Cell*): Set[String] = Truth.liveCells(cells).map { c =>
    s"${Option(c.superName).map(new String(_, "UTF-8")).getOrElse("")}/${new String(c.colName, "UTF-8")}=" +
      new String(c.value, "UTF-8")
  }.toSet

  /** The deletion matrix of the reference's batch_mutate conformance
    * tests: every combination of row / supercolumn / column tombstones
    * with interleaved timestamps, and resurrection.
    */
  def deletionMatrix(): Unit = {
    check("column delete after insert hides it")(live(col("c1", "v", 1), del("c1", 2)) == Set())
    check("insert after column delete resurrects")(live(del("c1", 2), col("c1", "v", 3)) == Set("/c1=v"))
    check("tombstone wins a timestamp tie")(live(col("c1", "v", 5), del("c1", 5)) == Set())
    check("larger unsigned value wins a live tie")(
      Truth.liveCells(Seq(Gen.live(k, null, b("c1"), Array(1.toByte), 5),
        Gen.live(k, null, b("c1"), Array(0xFF.toByte), 5))).map(_.value.toSeq) ==
        Vector(Seq(0xFF.toByte)))
    check("higher timestamp wins regardless of arrival order")(
      live(col("c1", "new", 9), col("c1", "old", 3)) == Set("/c1=new"))
    check("row delete shadows columns at or below the mark")(
      live(col("c1", "a", 9), col("c2", "b", 10), col("c3", "c", 11), rowDel(10)) == Set("/c3=c"))
    check("row delete then re-insert above the mark resurrects")(
      live(col("c1", "a", 1), rowDel(5), col("c1", "b", 6)) == Set("/c1=b"))
    check("re-insert below the row mark stays shadowed")(
      live(rowDel(5), col("c1", "b", 4)) == Set())
    check("the highest of several row marks applies")(
      live(rowDel(3), rowDel(8), col("c1", "a", 6), col("c2", "b", 9)) == Set("/c2=b"))
    check("supercolumn delete shadows its own subcolumns only")(
      live(sub("sc1", "c4", "v4", 1), sub("sc2", "c5", "v5", 1), superDel("sc1", 2)) ==
        Set("sc2/c5=v5"))
    check("supercolumn delete spares newer subcolumns")(
      live(sub("sc1", "c4", "v4", 1), superDel("sc1", 2), sub("sc1", "c6", "v6", 3)) ==
        Set("sc1/c6=v6"))
    check("row delete shadows subcolumns of every supercolumn")(
      live(sub("sc1", "c4", "v4", 1), sub("sc2", "c5", "v5", 4), rowDel(2)) == Set("sc2/c5=v5"))
    check("column tombstone inside a supercolumn")(
      live(sub("sc1", "c4", "v4", 1), Gen.colTomb(k, b("sc1"), b("c4"), 2)) == Set())
    check("reversed slice takes the last columns")(
      Truth.slice(Truth.liveCells(Seq(col("c1", "a", 1), col("c2", "b", 1), col("c3", "c", 1))), 2,
        reversed = true).map(c => new String(c.colName, "UTF-8")) == Vector("c3", "c2"))
    check("super slice counts supercolumns, not subcolumns")(
      Truth.superSlice(Truth.liveCells(Seq(sub("sc1", "a", "1", 1), sub("sc1", "b", "2", 1),
        sub("sc2", "a", "3", 1), sub("sc3", "a", "4", 1))), 2).size == 3)
  }

  def generator(): Unit = {
    def hist(seed: Long, i: Int) = Gen.history(seed, 4, 0.25, i).map { case (r, c) =>
      (r, c.key, Truth.hex(c.col_name), Truth.hex(c.value), c.ts, c.tombstone)
    }.toSeq
    check("history is deterministic per seed")((0 until 200).forall(i => hist(7, i) == hist(7, i)))
    check("another seed gives other histories")((0 until 200).count(i => hist(7, i) != hist(8, i)) > 190)
    check("super history is deterministic per seed")((0 until 50).forall(i =>
      Gen.superHistory(3, i).map(c => Truth.hex(c.value)).toSeq ==
        Gen.superHistory(3, i).map(c => Truth.hex(c.value)).toSeq))
    val keys = (s: Long) => { val r = Gen.rng(s, 5); Seq.fill(100)(Gen.gaussianKey(r, 10000)) }
    check("request keys are deterministic per seed")(keys(1) == keys(1) && keys(1) != keys(2))
    check("gaussian keys stay in range")(keys(3).forall(x => x >= 0 && x < 10000))
    val all = (0 until 2000).flatMap(i => Gen.history(11, 4, 0.25, i))
    check("the store has row deletes, column deletes, ties and re-inserts")(
      all.exists { case (_, c) => c.tombstone && c.col_name == null } &&
        all.exists { case (_, c) => c.tombstone && c.col_name != null } &&
        all.exists { case (r, c) => r == 3 && !c.tombstone } &&
        (0 until 2000).exists { i =>
          val h = Gen.history(11, 4, 0.25, i).map(_._2).filter(_.col_name != null)
          h.groupBy(c => Truth.hex(c.col_name)).values.exists(v => v.map(_.ts).distinct.size < v.size)
        })
    check("some keys end with no live column")(
      (0 until 2000).exists(i => Truth.liveCells(Gen.history(11, 4, 0.25, i).map(_._2)).isEmpty))
    val (docs, pairs) = Gen.corpus(5, 5000, 500)
    check("the corpus is deterministic per seed")(
      Gen.corpus(5, 5000, 500) == (docs, pairs) && Gen.corpus(6, 5000, 500)._1 != docs)
    val words = docs.map(_.split(" ").toVector)
    check("the corpus has the measured sf0.1 shape")(
      docs.size == 5500 && pairs.size == 750 &&
        words.filterNot(_.contains("dup")).forall(w => w.size >= 10 && w.size <= 99) &&
        math.abs(words.map(_.size).sum.toDouble / words.size - 54.5) < 1.5 &&
        words.flatten.filter(_ != "dup").toSet == Gen.Vocabulary.toSet)
    check("dup copies append one word, edited copies replace up to three")(
      pairs.take(250).forall { case (a, b) => docs(b) == docs(a) + " dup" } &&
        pairs.drop(250).forall { case (a, b) =>
          words(a).size == words(b).size && words(a).zip(words(b)).count(p => p._1 != p._2) <= 3 })
    check("every dup copy clears the 4/5 bar against its source")(pairs.take(250).forall { case (a, b) =>
      Truth.jaccard(Truth.shingles(docs(a)), Truth.shingles(docs(b))) >= 0.8 })
  }

  def main(args: Array[String]): Unit = {
    deletionMatrix()
    generator()
    println(s"selftest: ${cases - failures}/$cases cases passed")
    if (failures > 0) sys.exit(1)
  }
}
