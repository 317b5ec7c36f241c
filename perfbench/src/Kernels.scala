package perfbench

import graft.core.{Dict, TaggedSentence}
import graft.crf.Crf
import graft.features.Features
import graft.link.Linker
import graft.segment.Segmenter
import graft.spans.Spans

/** The engine's per-token and per-candidate kernels, timed in-process on
  * one thread with no Spark, over a workload's own documents. Each
  * kernel runs a warm-up pass and then timed passes over the whole
  * input; the median pass is reported. */
object Kernels {

  private val minSeconds = 0.25
  private val minPasses = 5

  /** Median seconds of one pass of `pass`, which returns a checksum so
    * the JIT cannot drop the work. */
  private def timePasses(pass: () => Long): Double = {
    var sink = pass() + pass()
    val times = Vector.newBuilder[Double]
    var n = 0
    var spent = 0.0
    while (n < minPasses || spent < minSeconds) {
      val t0 = System.nanoTime()
      sink += pass()
      val s = (System.nanoTime() - t0) / 1e9
      times += s; spent += s; n += 1
    }
    if (sink == 42L) System.err.println("") // keeps `sink` live
    Stats.median(times.result())
  }

  def measure(contents: Seq[String], trace: Trace, parent: Int)
      : Seq[(String, Double)] = {
    val w = Crf.emissionWeights
    val tr = Crf.transitions
    val gaz = Dict.gazIndex
    val segmented = contents.flatMap(Segmenter.segment(_)).toArray
    val tokens = segmented.map(_._2)
    val nTokens = tokens.map(_.length.toLong).sum.toDouble
    val masks = tokens.map(Features.sentenceBits(_, gaz))
    val flatMasks = masks.flatten
    val emissions = masks.map(_.map(Crf.emit(_, w)))
    val tagged = segmented.zip(emissions).map { case ((i, t, s, e), em) =>
      TaggedSentence("r", "p", i, t, s, e, Crf.viterbi(em, tr).map(Dict.tags))
    }
    val mentions = tagged.flatMap(Spans.extract)
    // link attempts: each mention against the dictionary entries sharing
    // its first token and type, as Linker.link scores them
    val attempts = mentions.map { m =>
      val toks = m.text.toLowerCase(java.util.Locale.ROOT).split(' ')
      (toks, gaz.getOrElse(toks(0), Vector.empty).filter(_._2 == m.tag)
        .map(_._1))
    }
    val nCandidates = attempts.map(_._2.size).sum
    val linked = attempts.count { case (toks, cands) =>
      cands.exists(Linker.similarity(toks, _) >= Linker.defaultThreshold)
    }

    def kernel(name: String)(pass: () => Long): Double =
      trace.span(s"kernel.$name", parent)(_ => timePasses(pass))

    val segS = kernel("segment") { () =>
      contents.foldLeft(0L)((acc, c) => acc + Segmenter.segment(c).size)
    }
    val featS = kernel("features") { () =>
      tokens.foldLeft(0L)((acc, t) => acc + Features.sentenceBits(t, gaz)(0))
    }
    val emitS = kernel("crf.emit") { () =>
      var acc = 0L; var i = 0
      while (i < flatMasks.length) {
        acc += Crf.emit(flatMasks(i), w)(0).toLong; i += 1
      }
      acc
    }
    val viterbiS = kernel("crf.viterbi") { () =>
      emissions.foldLeft(0L)((acc, em) => acc + Crf.viterbi(em, tr)(0))
    }
    val spansS = kernel("spans") { () =>
      tagged.foldLeft(0L)((acc, t) => acc + Spans.extract(t).size)
    }
    val linkS = kernel("link") { () =>
      attempts.foldLeft(0L) { case (acc, (toks, cands)) =>
        cands.foldLeft(acc)((a, c) => a + (Linker.similarity(toks, c) * 1e4).toLong)
      }
    }
    def perToken(s: Double) = s * 1e9 / nTokens
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    Seq(
      "segment.ns_per_token" -> perToken(segS),
      "features.ns_per_token" -> perToken(featS),
      "crf.emit_ns_per_token" -> perToken(emitS),
      "crf.viterbi_ns_per_token" -> perToken(viterbiS),
      "spans.ns_per_token" -> perToken(spansS),
      "link.ns_per_candidate" -> ratio(linkS * 1e9, nCandidates),
      "kernel.tokens" -> nTokens,
      "spans.mentions" -> mentions.length.toDouble,
      "link.candidates_per_mention" -> ratio(nCandidates, mentions.length),
      "link.linked_ratio" -> ratio(linked, mentions.length))
  }
}
