package perfbench

import java.util.SplittableRandom

import graft.chunk.{ChunkSplitter, Snippet}
import graft.external._
import org.apache.spark.SparkContext
import org.apache.spark.util.LongAccumulator

/** Seeded transcript corpus. Video `i` is a pure function of (seed, i), so
  * the fetchers below can regenerate any video on any executor and the
  * benchmark can compute its expected outputs without Spark.
  *
  * Captions carry the noise real ones do (`>>` speaker arrows, `[Music]`
  * tags, `[ __ ]` profanity masks with no-break spaces). One video in every
  * hundred carries a `POISON` snippet, which makes the stub cleaner throw
  * and the pipeline abort that video. Its slot is seeded but always inside
  * the base range, so every seed runs the abort-and-retry path.
  */
case class CorpusSpec(seed: Long, nBase: Int, nNew: Int, chunksPerVideo: Int) {
  def nTotal: Int = nBase + nNew
  def videoId(i: Int): String = f"v$seed%d-$i%05d"
  def indexOf(videoId: String): Int = videoId.substring(videoId.lastIndexOf('-') + 1).toInt

  private def rng(i: Int, salt: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + i.toLong * 7919L + salt)

  private val poisonSlot: Int = math.floorMod(seed, math.min(nBase, 100).toLong).toInt
  def poisoned(i: Int): Boolean = i % 100 == poisonSlot

  def show(i: Int): Int = rng(i, 1).nextInt(Corpus.Shows.size)

  def hosts(i: Int): Seq[String] = {
    val r = rng(i, 2)
    val pool = Corpus.HostsByShow(show(i))
    val first = pool(r.nextInt(pool.size))
    if (r.nextInt(3) == 0) (first +: pool.filterNot(_ == first).take(1)) else Seq(first)
  }

  def topics(i: Int): Seq[String] = {
    val r = rng(i, 3)
    val a = r.nextInt(Corpus.Topics.size)
    val b = (a + 1 + r.nextInt(Corpus.Topics.size - 1)) % Corpus.Topics.size
    Seq(Corpus.Topics(a), Corpus.Topics(b))
  }

  /** Publication time: a uniform second within 2016-2024. */
  def publishedAt(i: Int): Long = {
    val r = rng(i, 4)
    val lo = 1451606400L // 2016-01-01T00:00:00Z
    val hi = 1735689599L // 2024-12-31T23:59:59Z
    lo + (r.nextLong() >>> 1) % (hi - lo)
  }

  def meta(i: Int): VideoMeta = {
    val t = topics(i)
    VideoMeta(videoId(i), s"${Corpus.Shows(show(i))} episode $i on ${t(0)} and ${t(1)}",
      s"Conversation about ${t.mkString(", ")}", publishedAt(i), 1800L + rng(i, 5).nextInt(5400))
  }

  /** Caption snippets: about `chunksPerVideo` chunks' worth of text. */
  def snippets(i: Int): Seq[Snippet] = {
    val r = rng(i, 6)
    val t = topics(i)
    val target = chunksPerVideo * 800 + 200
    val out = Vector.newBuilder[Snippet]
    var chars = 0
    var start = 0.0
    while (chars < target) {
      val n = 7 + r.nextInt(8)
      val words = (0 until n).map { _ =>
        val u = r.nextInt(100)
        if (u < 8) t(r.nextInt(2))
        else if (u < 10) Corpus.Topics(r.nextInt(Corpus.Topics.size))
        else Corpus.Words(r.nextInt(Corpus.Words.size))
      }
      val noise = r.nextInt(100)
      val body = words.mkString(" ")
      val text =
        if (noise < 10) s">> $body"
        else if (noise < 14) s"[Music] $body"
        else if (noise < 17) s"$body [\u00a0__\u00a0] ${Corpus.Words(r.nextInt(Corpus.Words.size))}"
        else body
      val dur = 1.5 + r.nextInt(300) / 100.0
      out += Snippet(text, math.rint(start * 100) / 100, dur)
      chars += text.length + 1
      start += dur
    }
    val snips = out.result()
    if (!poisoned(i)) snips
    else {
      val at = r.nextInt(snips.size)
      snips.updated(at, snips(at).copy(text = snips(at).text + " POISON"))
    }
  }

  /** Raw chunk (start, text) pairs exactly as the pipeline chunks them. */
  def rawChunks(i: Int): Vector[graft.chunk.Chunk] = ChunkSplitter.chunkTranscript(snippets(i))

  /** Cleaner calls the pipeline makes for video `i`: every chunk, or up to
    * and including the first poisoned one.
    */
  def cleanCalls(i: Int): Int = {
    val cs = rawChunks(i)
    if (!poisoned(i)) cs.size else cs.indexWhere(_.text.contains("POISON")) + 1
  }
}

object Corpus {
  val Shows: Vector[String] = Vector(
    "Quarry Hour", "Lantern Desk", "Orbit Mill", "Tidewater Talks", "Copper Atlas", "Nightjar Review")
  val HostsByShow: Vector[Vector[String]] = Vector(
    Vector("Mara Quist", "Idris Holloway", "Petra Vance"),
    Vector("Tomas Reyk", "Alba Corwin"),
    Vector("Juno Ashby", "Felix Marrow", "Sana Okoro"),
    Vector("Linnea Brandt", "Cyrus Pell"),
    Vector("Odile Fenn", "Rafe Tamsin", "Wren Calder"),
    Vector("Hollis Grey", "Nadia Voss"))
  val AllHosts: Vector[String] = HostsByShow.flatten
  val Topics: Vector[String] = Vector(
    "inflation", "glaciers", "vaccines", "semiconductors", "housing", "fisheries",
    "wildfires", "elections", "tariffs", "satellites", "batteries", "aquifers",
    "pensions", "robotics", "migration", "copyright", "telescopes", "wheat",
    "earthquakes", "railways", "antibiotics", "typography", "volcanoes", "jazz")
  val Words: Vector[String] = Vector(
    "the", "a", "we", "you", "they", "it", "is", "was", "were", "really", "think",
    "know", "people", "about", "because", "so", "and", "but", "that", "this", "what",
    "there", "here", "then", "when", "going", "said", "say", "look", "point", "right",
    "actually", "basically", "question", "answer", "story", "market", "country", "city",
    "year", "week", "thing", "kind", "data", "report", "study", "number", "money", "time",
    "problem", "idea", "history", "future", "policy", "science", "industry", "question",
    "interesting", "important", "different", "small", "large", "early", "late", "local",
    "global", "public", "private", "simple", "hard", "open", "closed", "cheap", "costly",
    "faster", "slower", "better", "worse", "north", "south", "river", "mountain", "engine",
    "garden", "island", "harbor", "bridge", "tunnel", "signal", "pattern", "record", "model")
}

/** Counters the benchmark reads at the external boundaries. */
class ExternalCounters(sc: SparkContext) {
  val cleanCalls: LongAccumulator = sc.longAccumulator("clean_calls")
  val cleanAborts: LongAccumulator = sc.longAccumulator("clean_aborts")
  val embedTexts: LongAccumulator = sc.longAccumulator("embed_texts")
  val embedBatches: LongAccumulator = sc.longAccumulator("embed_batches")
  val embedNanos: LongAccumulator = sc.longAccumulator("embed_nanos")
  val fetchCalls: LongAccumulator = sc.longAccumulator("fetch_calls")
  val metaCalls: LongAccumulator = sc.longAccumulator("meta_calls")
  val chunksOut: LongAccumulator = sc.longAccumulator("chunks_out")

  private def all = Seq(cleanCalls, cleanAborts, embedTexts, embedBatches, embedNanos,
    fetchCalls, metaCalls, chunksOut)

  def reset(): Unit = all.foreach(_.reset())

  def snapshot(): Map[String, Long] = all.map(a => a.name.get -> a.value.longValue).toMap
}

class SeededTranscriptFetcher(spec: CorpusSpec) extends TranscriptFetcher {
  override def fetch(videoId: String): Option[Seq[Snippet]] = Some(spec.snippets(spec.indexOf(videoId)))
}

class SeededMetadataFetcher(spec: CorpusSpec) extends MetadataFetcher {
  override def fetch(videoIds: Seq[String]): Map[String, VideoMeta] =
    videoIds.map(id => id -> spec.meta(spec.indexOf(id))).toMap
}

class CountingTranscriptFetcher(inner: TranscriptFetcher, calls: LongAccumulator)
    extends TranscriptFetcher {
  override def fetch(videoId: String): Option[Seq[Snippet]] = { calls.add(1); inner.fetch(videoId) }
  override def fetchDetailed(videoId: String): TranscriptOutcome = {
    calls.add(1); inner.fetchDetailed(videoId)
  }
}

class CountingMetadataFetcher(inner: MetadataFetcher, calls: LongAccumulator)
    extends MetadataFetcher {
  override def fetch(videoIds: Seq[String]): Map[String, VideoMeta] = {
    calls.add(1); inner.fetch(videoIds)
  }
}

class CountingCleaner(inner: ChunkCleaner, calls: LongAccumulator, aborts: LongAccumulator)
    extends ChunkCleaner {
  override def clean(showName: String, title: String, chunkText: String): String = {
    calls.add(1)
    try inner.clean(showName, title, chunkText)
    catch { case e: Exception => aborts.add(1); throw e }
  }
}

class CountingEmbedder(inner: Embedder, texts: LongAccumulator, batches: LongAccumulator,
    nanos: LongAccumulator) extends Embedder {
  override def dim: Int = inner.dim
  override def embed(ts: Seq[String]): Seq[Array[Float]] = {
    val t0 = System.nanoTime()
    val r = inner.embed(ts)
    nanos.add(System.nanoTime() - t0)
    texts.add(ts.size)
    batches.add(1)
    r
  }
}
