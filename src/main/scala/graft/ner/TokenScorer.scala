package graft.ner

import graft.core.Gazetteer
import graft.text.PunctTokenizer

/** The model-inference contract of the NER stage.
  *
  * One scorer instance lives per executor (the reference keeps a
  * process-global model singleton, `cli_tagger_no_torch_serve.py:85-155`);
  * [[NerStage]] calls `scoreBatch` with fixed-size sentence batches, the
  * analog of the reference's batched TorchServe POST
  * (`cli_tagger.py:144-152`).
  *
  * Implementations must be deterministic: same token sequence → same
  * (BIO label, confidence) sequence.
  */
trait TokenScorer extends Serializable {

  /** Per-token (BIO label, confidence) for one tokenized sentence. */
  def score(tokens: IndexedSeq[String]): IndexedSeq[(String, Double)]

  /** Batched entry point (override for real model runtimes where batching
    * amortizes per-call cost). */
  def scoreBatch(batch: Seq[IndexedSeq[String]]): Seq[IndexedSeq[(String, Double)]] =
    batch.map(score)
}

/** Zero-allocation scoring capability over token RANGES into the article
  * text — the hot-path contract for scorers that don't need materialized
  * token strings (the alias trie walks chars directly). `NerStage` uses
  * this path when the scorer provides it; model-backed scorers
  * (WordPiece/ONNX) keep the string contract.
  */
trait RangeTokenScorer { self: TokenScorer =>

  /** Fill `labels(0..nToks)`/`confs(0..nToks)` for the tokens given as
    * packed `(start << 32) | end` offsets into `text`. Caller allocates
    * the output arrays (length ≥ nToks). Must be label-identical to
    * `score` on the materialized token strings. */
  def scoreRanges(text: String, tokOffsets: Array[Long], nToks: Int,
      labels: Array[String], confs: Array[Double]): Unit
}

/** Deterministic alias-trie scorer — the sandbox/CI stand-in for the
  * ONNX-exported BERT encoder (SURVEY §7.1 item 4). Mirrors the reference's
  * own shipped dictionary baseline (`data/baseline-pred/`, imported at
  * `model_evaluations.ipynb cell 8`).
  *
  * A token-level trie over [[Gazetteer.SurfaceAliases]] (each alias
  * tokenized with the reference's punctuation tokenizer) is matched
  * greedily longest-first at each position; matched runs get
  * `B-org.ent.pressagency.<Agency>` / `I-...` labels.
  *
  * Two equivalent engines: the string-token trie behind the public
  * `score(tokens)` contract, and a CHAR-AUTOMATON trie behind
  * [[RangeTokenScorer.scoreRanges]] that walks the article text directly —
  * zero substring allocation for non-matching tokens (the round-1 profile
  * put token substrings at ~65% of per-doc cost). Tag strings are
  * precomputed per terminal state, so a match allocates nothing either.
  */
final class AliasTrieScorer extends TokenScorer with RangeTokenScorer {

  import AliasTrieScorer._

  @transient private lazy val trie: TrieNode = buildTrie()
  @transient private lazy val charTrie: CharNode = buildCharTrie()

  override def scoreRanges(text: String, tokOffsets: Array[Long], nToks: Int,
      labels: Array[String], confs: Array[Double]): Unit = {
    val root = charTrie
    var i = 0
    while (i < nToks) {
      var node: CharNode = root
      var j = i
      var bestEnd = -1
      var bestNode: CharNode = null
      var walking = true
      while (walking) {
        // walk the chars of token j
        val off = tokOffsets(j)
        var p = (off >>> 32).toInt
        val e = (off & 0xffffffffL).toInt
        while (p < e && node != null) { node = node.child(text.charAt(p)); p += 1 }
        if (node == null) walking = false
        else {
          if (node.agency != null) { bestEnd = j; bestNode = node }
          // token-separator edge (aliases are stored space-joined)
          if (j + 1 < nToks) {
            node = node.child(' ')
            if (node == null) walking = false else j += 1
          } else walking = false
        }
      }
      if (bestEnd >= 0) {
        labels(i) = bestNode.bTag
        confs(i) = bestNode.confidence
        var k = i + 1
        while (k <= bestEnd) {
          labels(k) = bestNode.iTag
          confs(k) = bestNode.confidence
          k += 1
        }
        i = bestEnd + 1
      } else {
        labels(i) = "O"
        confs(i) = OutsideConfidence
        i += 1
      }
    }
  }

  override def score(tokens: IndexedSeq[String]): IndexedSeq[(String, Double)] = {
    val n = tokens.length
    // one shared tuple for the (overwhelmingly common) O case — a fresh
    // tuple per token is measurable garbage at corpus scale
    val out = Array.fill[(String, Double)](n)(AliasTrieScorer.Outside)
    var i = 0
    while (i < n) {
      var node = trie
      var j = i
      var bestEnd = -1
      var bestAgency: String = null
      var bestConf = 0.0
      var continue = true
      while (continue && j < n) {
        node.children.get(tokens(j)) match {
          case Some(child) =>
            if (child.agency != null) {
              bestEnd = j
              bestAgency = child.agency
              bestConf = child.confidence
            }
            node = child
            j += 1
          case None => continue = false
        }
      }
      if (bestEnd >= 0) {
        val label = s"org.ent.pressagency.$bestAgency"
        out(i) = (s"B-$label", bestConf)
        var k = i + 1
        while (k <= bestEnd) { out(k) = (s"I-$label", bestConf); k += 1 }
        i = bestEnd + 1
      } else i += 1
    }
    out.toIndexedSeq
  }
}

object AliasTrieScorer {

  /** Confidence assigned to `O` tokens and to matches. Canonical surfaces
    * score higher than OCR variants (the golden fixture records 0.975 for
    * the noisy `Havaas`, `tests/na_tagger_out.jsonl:1`). */
  val OutsideConfidence = 0.999
  val CanonicalConfidence = 0.99
  val VariantConfidence = 0.975
  private[ner] val Outside: (String, Double) = ("O", OutsideConfidence)

  final class TrieNode extends Serializable {
    val children = scala.collection.mutable.HashMap.empty[String, TrieNode]
    var agency: String = _
    var confidence: Double = 0.0
  }

  private[ner] def buildTrie(): TrieNode = {
    val root = new TrieNode
    Gazetteer.SurfaceAliases.foreach { case (surface, agency) =>
      val toks = PunctTokenizer.tokens(surface)
      var node = root
      toks.foreach { t =>
        node = node.children.getOrElseUpdate(t, new TrieNode)
      }
      node.agency = agency
      node.confidence =
        if (surface == agency) CanonicalConfidence else VariantConfidence
    }
    root
  }

  /** Char-automaton node: children as parallel sorted arrays (binary
    * search, no boxing); terminal states carry precomputed B-/I- tag
    * strings so a match allocates nothing. */
  final class CharNode extends Serializable {
    var chars: Array[Char] = Array.emptyCharArray
    var kids: Array[CharNode] = new Array[CharNode](0)
    var agency: String = _
    var confidence: Double = 0.0
    var bTag: String = _
    var iTag: String = _

    def child(c: Char): CharNode = {
      var lo = 0
      var hi = chars.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val mc = chars(mid)
        if (mc == c) return kids(mid)
        else if (mc < c) lo = mid + 1
        else hi = mid - 1
      }
      null
    }

    private[ner] def addChild(c: Char): CharNode = {
      val existing = child(c)
      if (existing != null) return existing
      var pos = 0
      while (pos < chars.length && chars(pos) < c) pos += 1
      val nc = new Array[Char](chars.length + 1)
      val nk = new Array[CharNode](kids.length + 1)
      System.arraycopy(chars, 0, nc, 0, pos)
      System.arraycopy(kids, 0, nk, 0, pos)
      nc(pos) = c
      val node = new CharNode
      nk(pos) = node
      System.arraycopy(chars, pos, nc, pos + 1, chars.length - pos)
      System.arraycopy(kids, pos, nk, pos + 1, kids.length - pos)
      chars = nc
      kids = nk
      node
    }
  }

  /** Char trie over space-joined alias token sequences (tokens never
    * contain whitespace, so ' ' is a safe separator edge). Same greedy
    * longest-token-match semantics as the string trie — differentially
    * spec-locked in NerSpec. */
  private[ner] def buildCharTrie(): CharNode = {
    val root = new CharNode
    Gazetteer.SurfaceAliases.foreach { case (surface, agency) =>
      val key = PunctTokenizer.tokens(surface).mkString(" ")
      var node = root
      var i = 0
      while (i < key.length) { node = node.addChild(key.charAt(i)); i += 1 }
      node.agency = agency
      node.confidence =
        if (surface == agency) CanonicalConfidence else VariantConfidence
      val label = s"org.ent.pressagency.$agency"
      node.bTag = s"B-$label"
      node.iTag = s"I-$label"
    }
    root
  }
}
