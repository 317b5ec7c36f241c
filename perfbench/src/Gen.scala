package perfbench

import graft.core.{Dict, SourceFile}

/** Seeded inputs for every workload. The same seed gives the same
  * inputs; the engine only ever sees the generated rows. */
object Gen {

  /** An entity planted into a file; the expected-output side of the
    * entity-dense corpora. */
  final case class Planted(repo: String, path: String, text: String,
      tag: String)

  final case class Corpus(files: Vector[SourceFile],
      planted: Vector[Planted]) {
    def docs: Int = files.size
  }

  // Non-entity words of the entity-dense corpora: the vocabulary the
  // engine's default model was fitted beside.
  private val filler = Vector(
    "the", "a", "of", "in", "on", "at", "to", "and", "or", "with",
    "reads", "writes", "builds", "parses", "emits", "joins", "scans",
    "sorted", "cached", "shuffled", "partitioned", "broadcast",
    "today", "yesterday", "quickly", "slowly", "however", "therefore",
    "value", "buffer", "index", "schema", "vector", "metric", "record")

  // The 30-word technical vocabulary of the `documents` fixture table
  // that graft.Bench reads. It holds no proper-noun entity, but some
  // words hit the dictionary's lowercase stratum, as in that table.
  private val technical = Vector(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  private val exts = Vector("scala", "java", "py", "md", "txt")

  /** Zipf(s = 1.1) draw over [0, n): a few repos own most files. */
  private final class Zipf(n: Int) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, 1.1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(rng: java.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Entity-dense corpus in the shape of the engine's synthetic corpus:
    * 1-12 lines per file, 3-10 words per line, about 60% of lines carry
    * one dictionary entity, Zipf-skewed repos and unique paths. */
  def entityDense(nFiles: Int, seed: Long, tag: String): Corpus = {
    val rng = new java.util.Random(seed)
    val repos = new Zipf(math.max(4, nFiles / 20))
    val files = Vector.newBuilder[SourceFile]
    val planted = Vector.newBuilder[Planted]
    var idx = 0
    while (idx < nFiles) {
      val repoId = repos.draw(rng)
      val repo = f"org${repoId % 97}%03d/repo$repoId%04d"
      val ext = exts(idx % exts.size)
      val path = f"$tag/pkg${idx % 13}%02d/File$idx%06d.$ext"
      val sb = new StringBuilder
      val nLines = 1 + rng.nextInt(12)
      var line = 0
      while (line < nLines) {
        if (line > 0) sb.append('\n')
        val nWords = 3 + rng.nextInt(8)
        val entityAt =
          if (rng.nextDouble() < 0.6) 1 + rng.nextInt(nWords) else -1
        var w = 0
        while (w < nWords) {
          if (w > 0) sb.append(' ')
          if (w == entityAt) {
            val (toks, label) =
              Dict.gazetteer(rng.nextInt(Dict.gazetteer.size))
            sb.append(toks.mkString(" "))
            planted += Planted(repo, path, toks.mkString(" "), label)
          } else {
            val f = filler(rng.nextInt(filler.size))
            sb.append(if (w == 0) f.capitalize else f)
          }
          w += 1
        }
        sb.append(" .")
        line += 1
      }
      files += SourceFile(repo, path, f"${rng.nextLong()}%016x", ext,
        sb.toString)
      idx += 1
    }
    Corpus(files.result(), planted.result())
  }

  /** `nBatches` batches of `batchSize` single-line documents of about
    * 300 characters over the technical vocabulary. */
  def smallBatches(nBatches: Int, batchSize: Int, seed: Long)
      : Vector[Vector[SourceFile]] = {
    val rng = new java.util.Random(seed)
    Vector.tabulate(nBatches) { b =>
      Vector.tabulate(batchSize) { d =>
        val sb = new StringBuilder
        while (sb.length < 240 + rng.nextInt(120)) {
          if (sb.nonEmpty) sb.append(' ')
          sb.append(technical(rng.nextInt(technical.size)))
        }
        val id = b * batchSize + d
        SourceFile(f"repo${rng.nextInt(32)}%02d", f"doc/b$b%03d/d$id%05d.txt",
          f"${rng.nextLong()}%016x", "en", sb.toString)
      }
    }
  }

  /** Golden triples of an entity-dense corpus, derived from its planted
    * mentions and the dictionary exactly as the engine's BASELINE P/R
    * gate derives them (label triples excluded). */
  def goldenTriples(c: Corpus): Set[(String, String, String)] = {
    val entryOf: Map[(String, String), Int] =
      Dict.gazetteer.zipWithIndex.map { case ((t, l), id) =>
        (t.mkString(" ").toLowerCase, l) -> id
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
    c.planted.flatMap { g =>
      val subj = s"m:${g.tag}:${g.text.toLowerCase}"
      val entry = entryOf.get((g.text.toLowerCase, g.tag))
      val canonical = entry.map(id => s"e:${Dict.kbId(id)}")
        .map(e => if (e < subj) e else subj).getOrElse(subj)
      Seq((canonical, "hasType", g.tag),
        (canonical, "mentionedIn", s"${g.repo}/${g.path}")) ++
        entry.map(id => (canonical, "sameAs", Dict.kbId(id)))
    }.toSet
  }
}
