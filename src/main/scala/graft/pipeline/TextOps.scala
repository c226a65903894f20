package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline primitives for large-scale training-data curation:
  * deterministic hashing, shingling, MinHash, SimHash, quality signals.
  *
  * All hashes derive from md5 (identical bytes in any engine) so every
  * operator here has an exact DuckDB oracle — no engine-specific hash
  * (xxhash64/murmur) in any data path that needs cross-engine parity.
  * Scale notes per operator in PipelineQueries.
  */
object TextOps {

  /** 32-bit deterministic string hash: first 8 hex chars of md5 as int64.
    * DuckDB equivalent: ('0x' || substr(md5(s),1,8))::BIGINT.
    */
  def h32(c: Column): Column = conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Whitespace tokens. */
  def words(text: Column): Column = split(text, " ")

  /** BPE-ish lexer tokens: letter runs, digit runs, single other chars.
    * regexp_extract_all is codegen'd; same pattern works in DuckDB.
    */
  val bpeishPattern = "[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9 ]"
  def bpeishCount(text: Column): Column = size(regexp_extract_all(text, lit(bpeishPattern), lit(0)))

  /** Binds a row-level value `v` (the split words, the word hashes)
    * once per row for the array lambdas in `f`. In Spark 4.1
    * `ArrayTransform`, `ArrayFilter` and `ArrayAggregate` are
    * `CodegenFallback`, and a lambda body re-evaluates every
    * sub-expression that reads no lambda variable once per element: a
    * `split(text)` inside a window lambda re-splits the document once
    * per window, O(words²) per row; the arguments of `CodegenFallback`
    * expressions also escape subexpression elimination, so sixteen
    * `aggregate`s over one `transform(words(text), h32)` split and hash
    * every word sixteen times. A one-element outer lambda holds `v` in
    * its variable, so `v` is computed once and the inner lambdas read
    * the bound value (the same trick as `aggregate()`'s seed in
    * ConstraintCompiler's unevaluatedItems).
    */
  private def bindOnce(v: Column)(f: Column => Column): Column =
    transform(array(v), f).getItem(0)

  /** md5 hashes of the word n-grams of `text` (all positions, the
    * decontamination unit — GPT-3's 13-gram rule shape); empty for
    * texts shorter than n words. DuckDB recomputes it as
    * md5(array_to_string(ws[i:i+n-1], ' ')).
    */
  def wordNgramHashes(text: Column, n: Int): Column = bindOnce(words(text)) { w =>
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - (n - 1)),
        i => md5(concat_ws(" ", slice(w, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Word bigrams as "w1 w2" strings (n-1 of them; empty for <2 words).
    * DuckDB mirror: list_transform(range(1, greatest(len(ws),1)),
    * i -> ws[i] || ' ' || ws[i+1]).
    */
  def wordBigrams(text: Column): Column = bindOnce(words(text)) { w =>
    when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1), i => concat_ws(" ", slice(w, i, lit(2)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Word 3-gram shingles: "w1 w2 w3" strings (n-2 of them; empty for
    * <3 words — guard needed because sequence(1,0) would be DESCENDING).
    */
  def shingles3(text: Column): Column = bindOnce(words(text)) { w =>
    when(size(w) >= 3,
      transform(sequence(lit(1), size(w) - 2),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))))
      .otherwise(array().cast("array<string>"))
  }

  /** MinHash signature value i over a shingle array:
    * min over shingles of (a_i * h32(s) + b_i) mod p  (p = 2^31-1).
    * Exact int64 arithmetic — a*h < 2^63 — so cross-engine exact.
    * Empty shingle set -> p (sentinel), never matches a real min.
    */
  val MinhashP = 2147483647L
  def minhashA(i: Int): Long = 1103515245L + 2L * i // odd multipliers
  def minhashB(i: Int): Long = 12345L + i
  def minhash(shingleHashes: Column, i: Int): Column =
    coalesce(
      array_min(transform(shingleHashes,
        h => pmod(lit(minhashA(i)) * h + lit(minhashB(i)), lit(MinhashP)))),
      lit(MinhashP))

  def shingleHashes(text: Column): Column = transform(shingles3(text), h32(_))

  /** 16-bit SimHash over word hashes: bit b is set iff
    * sum over words of (bit_b(h32(w)) ? +1 : -1) > 0.
    */
  def simhash16(text: Column): Column = bindOnce(transform(words(text), h32(_))) { hs =>
    (0 until 16).map { b =>
      val bitSum = aggregate(hs, lit(0L),
        (acc, h) => acc + (shiftright(h, b).bitwiseAND(lit(1L)) * 2 - 1))
      when(bitSum > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Hamming distance between two simhash values (int64 bit tricks). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Rolling polynomial fingerprint over words:
    * fold(acc = 0; acc = (acc * 31 + h32(w)) mod 1e9+7) — order-sensitive
    * document identity robust to leading/trailing/repeated whitespace:
    * split() keeps empty tokens around extra separators and h32("") is a
    * real hash, so empties must be filtered for "a " and "a" to agree
    * (round-4 review; the DuckDB oracle filters identically).
    */
  val FpP = 1000000007L
  def fingerprint(text: Column): Column =
    aggregate(transform(filter(words(text), w => w =!= lit("")), h32(_)), lit(0L),
      (acc, h) => pmod(acc * 31 + h, lit(FpP)))

  // ---- quality signals (cheap, per-document) ----
  val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  def nWords(text: Column): Column = size(words(text))
  def stopwordRatio(text: Column): Column = {
    val w = words(text)
    round(size(filter(w, x => x.isin(Stopwords: _*))).cast("double") /
      greatest(size(w), lit(1)), 6)
  }
  def punctRatio(text: Column): Column =
    round(size(regexp_extract_all(text, lit("[^a-zA-Z0-9 ]"), lit(0))).cast("double") /
      greatest(length(text), lit(1)), 6)
  def avgWordLen(text: Column): Column = {
    val w = words(text)
    round((length(text) - size(w) + 1).cast("double") / greatest(size(w), lit(1)), 6)
  }

  /** Language-ID heuristic: per-language stopword hit counts; the argmax
    * is the prediction. Tiny fixed lexicons — the n-gram-free variant of
    * fastText-style ID that suits a plain column expression.
    */
  val LangLexicon: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "de", "et", "est"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))

  def langScores(text: Column): Seq[(String, Column)] = {
    val w = words(text)
    LangLexicon.toSeq.sortBy(_._1).map { case (lang, lex) =>
      lang -> size(filter(w, x => x.isin(lex: _*)))
    }
  }

  /** Predicted language: argmax score, ties broken alphabetically; docs
    * with zero hits everywhere -> "und" (undetermined).
    */
  def langPredict(text: Column): Column = {
    val scores = langScores(text)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, sc), acc) =>
      when(sc === best && best > 0, lit(lang)).otherwise(acc)
    }
  }
}
