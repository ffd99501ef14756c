package graftbench

import java.sql.Timestamp
import graft.PageRow
import graft.corpus.Corpus

/** Every input of a run, derived from its seed. The seed picks which
  * corpus rows, which re-crawl targets and which terms are used; it never
  * changes how many, in which order, or from which frequency band, so runs
  * at different seeds do the same amount of work.
  */
final class Gen(seed: Long, val docs: Int = Gen.Docs) {
  import Gen._

  private def pick(key: Long, n: Int): Int =
    java.lang.Math.floorMod(Corpus.mix(seed * 1000003L + key), n.toLong).toInt

  /** First corpus row of the slice. Offsets stay inside [1e6, 8e6) so every
    * title number has seven digits at every seed.
    */
  val offset: Long = 1000000L + 1000L * pick(1, 7000)
  val hi0: Long = offset + docs

  private def slice: Range = 0 until docs

  /** Batch timestamp covering every row below `hi` and none above it. */
  def batchTs(hi: Long): Timestamp = new Timestamp(Epoch2024 + hi * 1000L - 1)

  // ---- search_hot ---------------------------------------------------

  /** One round of the fixed query shapes, terms picked inside each band. */
  def round(r: Int): Seq[(String, String)] = {
    def stop(k: Int) = Corpus.stopwords(pick(1000L * r + k, StopBand))
    def head(k: Int) = Corpus.contentWord(HeadLo + pick(1000L * r + k, HeadBand))
    def tail(k: Int) = Corpus.contentWord(TailLo + pick(1000L * r + k, TailBand))
    def rare(k: Int) = Corpus.rareMarker(pick(1000L * r + k, Corpus.numRareMarkers))
    Seq(
      "stopwords" -> s"${stop(11)} ${stop(12)}",
      "head" -> head(21),
      "tail" -> tail(31),
      "rare" -> rare(41),
      "absent" -> f"zq${pick(1000L * r + 51, 1000000)}%06d",
      "mix2" -> s"${head(61)} ${tail(62)}",
      "mix3" -> s"${stop(71)} ${head(72)} ${rare(73)}")
  }

  /** The distinct queries of the stream, in stream order. */
  val stream: IndexedSeq[(String, String)] = (0 until StreamRounds).flatMap(round)

  // ---- refresh --------------------------------------------------------

  /** The slice rows in a seed-fixed order. Re-crawl targets, title
    * searches, purge targets and warm-up searches take disjoint regions.
    */
  private val shuffled: IndexedSeq[Int] = new scala.util.Random(seed).shuffle(slice.toVector)

  private def region(start: Int, n: Int): Seq[Long] =
    shuffled.slice(start, start + n).map(offset + _)

  def recrawls(cycle: Int): Seq[Long] = {
    require(cycle < MaxCycles)
    region(cycle * RecrawlsPerCycle, RecrawlsPerCycle)
  }

  private val TitleBase = MaxCycles * RecrawlsPerCycle
  private val PurgeBase = TitleBase + MaxCycles * SearchesPerCycle
  private val WarmupBase = PurgeBase + PurgeCount

  /** Never-queried slice rows searched by title number in a cycle. */
  def titleRows(cycle: Int): Seq[Long] = {
    require(cycle < MaxCycles)
    region(TitleBase + cycle * SearchesPerCycle, SearchesPerCycle)
  }

  /** Slice rows the traced run purges. */
  def purgeRows: Seq[Long] = region(PurgeBase, PurgeCount)

  /** Slice rows searched by title number in set-up. */
  def warmupRows: Seq[Long] = region(WarmupBase, WarmupSearches)

  /** Slice rows searched by the traced run's overhead probe. */
  def overheadRows: Seq[Long] = region(WarmupBase + WarmupSearches, OverheadSearches)

  /** New corpus rows added by a cycle (cycle 0 is the warm-up delta). */
  def newRows(cycle: Int): (Long, Long) = {
    val lo = hi0 + cycle.toLong * NewPerCycle
    (lo, lo + NewPerCycle)
  }
}

object Gen {
  /** Corpus size of both workloads. Its ~4.1k-term head vocabulary fits the
    * reader's 65,536-entry dict cache; the ~20k title numbers do not repeat.
    */
  val Docs = 20000
  val Epoch2024 = 1704067200000L

  val StopBand = 4          // the 4 most frequent stopwords (in ~all docs)
  val HeadLo = 20           // content ranks [20, 60)
  val HeadBand = 40
  val TailLo = 1000         // content ranks [1000, 4000)
  val TailBand = 3000
  val StreamRounds = 3      // 3 rounds x 7 shapes = 21 distinct queries

  val NewPerCycle = 100     // +0.5% of the corpus per sync batch
  val RecrawlsPerCycle = 20
  val SearchesPerCycle = 2  // title-number searches after the marker search
  val MaxCycles = 8
  val PurgeCount = 10
  val WarmupSearches = 4
  val OverheadSearches = 8

  /** New text of a re-crawled row: a unique revision token plus another
    * row's body, without the old title line (so the old title number no
    * longer matches the url).
    */
  def recrawlText(i: Long, cycle: Int): String =
    s"Revision r${i}c$cycle\n" +
      Corpus.text(i + 50000000L).split("\n", -1).drop(1).mkString("\n")

  def recrawlToken(i: Long, cycle: Int): String = s"r${i}c$cycle"

  private def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Page bytes rendering `text` the way the corpus does, so extraction
    * returns `text` byte for byte.
    */
  def html(i: Long, text: String): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("<html><head><title>doc ").append(i)
      .append("</title><meta charset=\"utf-8\"></head><body>")
    text.split("\n", -1).foreach(l => sb.append("<p>").append(escape(l)).append("</p>"))
    sb.append("</body></html>")
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  def recrawlRow(i: Long, cycle: Int, ts: Timestamp): PageRow = {
    val t = recrawlText(i, cycle)
    PageRow(Corpus.url(i), ts, html(i, t), t, Corpus.lang(i))
  }
}
