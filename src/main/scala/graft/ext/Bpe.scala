package graft.ext

import graft.{Materialize, Q, Tables}
import graft.Materialize.MaterializeOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed BPE merge learning — the tokenizer-TRAINING stage the
  * x36–x38 tokenizer-prep family was missing (x36 builds a word vocab,
  * x38 measures OOV against it; x45 learns the subword merge table that
  * production tokenizers actually ship).
  *
  * Algorithm (Sennrich et al. 2016, "Neural Machine Translation of Rare
  * Words with Subword Units"): start from per-word character sequences
  * weighted by corpus frequency; each round, count adjacent symbol
  * pairs, pick the most frequent (ties → lexicographic pair, so the
  * choice is total-ordered and engine-independent), and merge every
  * greedy left-to-right occurrence into one symbol; repeat M times. The
  * output is the learned merge table — (round, left, right, count).
  *
  * The merge-application trick: a word's symbol sequence is kept as the
  * string `[s1][s2]…[sn]` ('[' / ']' are reserved — tokens are
  * alphanumeric), and applying merge (a,b) is the LITERAL replace of
  * `[a][b]` with `[ab]`. Non-regex string replace scans left-to-right
  * over non-overlapping occurrences in BOTH Spark (UTF8String.replace)
  * and DuckDB — exactly greedy BPE semantics, and because each symbol
  * carries its own brackets, consecutive merge sites share no
  * characters (`[a][b][a][b]` → `[ab][ab]`, not the half-merged result
  * a shared-delimiter encoding produces). No floats anywhere in the
  * loop: counts are longs, symbols are strings, so the DuckDB oracle
  * replays ALL M training rounds bit-exactly from a generated CTE
  * chain (the x12 Lloyd-chain pattern; both sides derive from the one
  * [[Merges]] constant).
  *
  * Scale shape: the ONLY corpus-scale stage is the word-frequency
  * aggregate (one hash-agg with map-side combine on the word key —
  * x36's shape). The merge loop runs over the DISTINCT-WORD table
  * (10⁵–10⁶ rows at production scale — distributed, but corpus-size-
  * independent): each round is one small pair-count hash-agg, a
  * TakeOrderedAndProject argmax (bounded: 1 row), and a map-side
  * replace under a 1-row broadcast. M rounds = M tiny shuffles that
  * never touch the corpus again — at 100 TB the word table is ~10⁻⁶ of
  * the input, which is why BPE trainers run on word counts, not raw
  * text. Each round is materialized: the table is tiny and the
  * alternative is 2^M-deep lineage re-running every prior round.
  *
  * Precondition: the pair inventory must survive M rounds (true for any
  * real corpus; the synthetic vocab's ~31 words × ~5 chars carries
  * hundreds of distinct pairs against [[Merges]] = 8). */
object Bpe {

  /** Merge rounds to learn. Production vocabularies run 10⁴–10⁵ rounds
    * of the same loop; 8 keeps the oracle CTE chain readable while
    * exercising every recurrence the full run would. */
  private[graft] val Merges = 8

  /** Bracket-wrapped symbol sequence of a word: `hello` → `[h][e][l][l][o]`. */
  private def charRepr(w: org.apache.spark.sql.Column) =
    array_join(transform(split(w, ""), c => concat(lit("["), c, lit("]"))), "")

  /** Adjacent-pair frame (a, b, freq) of the current symbol table. */
  private def pairs(words: DataFrame): DataFrame = {
    val syms = split(expr("substring(repr, 2, length(repr) - 2)"), "\\]\\[")
    words.select(col("freq"), syms.as("s"))
      .filter(size(col("s")) > 1)
      .select(col("freq"), explode(transform(
        sequence(lit(1), size(col("s")) - 1),
        i => struct(element_at(col("s"), i).as("a"),
          element_at(col("s"), i + 1).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("freq"))
  }

  private def bpeOracle: String = {
    val out = (1 to Merges).map(r =>
      s"SELECT $r AS round, a AS left_sym, b AS right_sym, CAST(cnt AS BIGINT) AS pair_count FROM t$r")
      .mkString(" UNION ALL ")
    s"""$oracleChain
       |SELECT * FROM ($out) ORDER BY round""".stripMargin
  }

  /** Run the `merges`-round training loop: returns the final merged
    * word table (w, freq, repr) and each round's 1-row argmax frame.
    * Each round is materialized — the tables are tiny (bounded by
    * distinct-word count and 1 row respectively) and the alternative is
    * exponentially deep lineage re-running every prior round. Each
    * superseded word table is released.
    *
    * Each round ASSERTS its argmax frame is non-empty (round-8 advice):
    * if the pair inventory runs dry before round `merges`, an empty
    * limit(1) frame would crossJoin the word table to EMPTY — x45 would
    * silently emit fewer than M rows and x45b an empty encode, and the
    * oracle reproduces the same degenerate output, so nothing downstream
    * catches the violated precondition. The count is free: the frame is
    * already materialized and holds ≤ 1 row. */
  private[graft] def train(docs: DataFrame,
      merges: Int = Merges): (DataFrame, Seq[DataFrame]) = {
    val seed = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"), charRepr(col("w")).as("repr"))
      .materialized
    val tops = Seq.newBuilder[DataFrame]
    val (words, _) = Materialize.fixpoint(seed, merges) { (words, r) =>
      val top = pairs(words)
        .groupBy(col("a"), col("b")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
        .materialized
      require(top.count() == 1L,
        s"BPE pair inventory ran dry at round $r of $merges: every word is " +
          "a single symbol — lower the merge count for this corpus")
      tops += top
      words.crossJoin(broadcast(top))
        .select(col("w"), col("freq"),
          replace(col("repr"),
            concat(lit("["), col("a"), lit("]["), col("b"), lit("]")),
            concat(lit("["), col("a"), col("b"), lit("]"))).as("repr"))
    }
    (words, tops.result())
  }

  /** x45: the learned merge table after [[Merges]] BPE rounds. Bounded
    * output (M rows) — the scale story is that the corpus is read
    * once. */
  val bpeMerges = Q.withOracle(
    "x45_bpe_merges",
    "x45: BPE merge learning - M most-frequent adjacent-pair merges over the corpus",
    bpeOracle) { (s, dir) =>
    val (_, tops) = train(Tables.documents(s, dir))
    tops.zipWithIndex.map { case (top, i) =>
      top.select(lit(i + 1).as("round"), col("a").as("left_sym"),
        col("b").as("right_sym"), col("cnt").cast("long").as("pair_count"))
    }.reduce(_ unionByName _).orderBy(col("round"))
  }

  /** The CTE prefix shared by both oracles: w0 (word freqs + char
    * reprs) and the [[Merges]] training rounds p/t/w 1..M. */
  private def oracleChain: String = {
    def round(r: Int): String =
      s"""p$r AS MATERIALIZED (
         |  SELECT (u).a AS a, (u).b AS b, SUM(freq) AS cnt FROM (
         |    SELECT freq, unnest(list_transform(generate_series(1, len(s) - 1),
         |      i -> {'a': s[i], 'b': s[i + 1]})) AS u
         |    FROM (SELECT freq,
         |            string_split(substr(repr, 2, len(repr) - 2), '][') AS s
         |          FROM w${r - 1}) z
         |    WHERE len(s) > 1)
         |  GROUP BY 1, 2),
         |t$r AS MATERIALIZED (
         |  SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |w$r AS MATERIALIZED (
         |  SELECT w, freq,
         |    replace(repr, '[' || t.a || '][' || t.b || ']',
         |                  '[' || t.a || t.b || ']') AS repr
         |  FROM w${r - 1} CROSS JOIN t$r t)""".stripMargin
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT w, COUNT(*) AS freq,
       |    array_to_string(list_transform(generate_series(1, len(w)),
       |      i -> '[' || w[i] || ']'), '') AS repr
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) z
       |  GROUP BY w),
       |${(1 to Merges).map(round).mkString(",\n")}""".stripMargin
  }

  /** x45b: ENCODE with the learned tokenizer — after round M the word
    * table's repr IS each word's greedy-BPE segmentation, so encoding
    * the corpus is a word → subword-count lookup. Output: one row per
    * doc with its whitespace-token count, its BPE-subword count, and
    * the fertility ratio (subwords per word — THE tokenizer-quality
    * number a pretraining team watches).
    *
    * Scale shape: the merged word table is vocabulary-sized → broadcast
    * to the corpus-scale explode (word-keyed equi-join, no shuffle of
    * the corpus side beyond the per-doc regroup); the per-doc sums are
    * one hash-agg on doc_id. Fertility is exact: a LongType ratio pair
    * plus one double division at the end. */
  val bpeEncode = Q.withOracle(
    "x45b_bpe_encode",
    "x45b: per-doc subword counts + fertility under the learned BPE merges",
    s"""$oracleChain,
       |wn AS MATERIALIZED (
       |  SELECT w, len(string_split(substr(repr, 2, len(repr) - 2), '][')) AS ns
       |  FROM w$Merges),
       |dw AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |SELECT d.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(wn.ns) AS BIGINT) AS n_subwords,
       |  CAST(SUM(wn.ns) AS DOUBLE) / COUNT(*) AS fertility
       |FROM dw d JOIN wn USING (w)
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val (words, _) = train(docs)
    val subCounts = words.select(col("w"),
      size(split(expr("substring(repr, 2, length(repr) - 2)"), "\\]\\[")).as("ns"))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(broadcast(subCounts), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("ns")).cast("long").as("n_subwords"))
      .select(col("doc_id"), col("n_words"), col("n_subwords"),
        (col("n_subwords").cast("double") / col("n_words")).as("fertility"))
      .orderBy(col("doc_id"))
  }

  /** x178: tokenizer fertility/compression by LANGUAGE under the learned
    * BPE merges — the fairness table a tokenizer team reviews before
    * shipping (Petrov et al. 2023, "Language Model Tokenizers Introduce
    * Unfairness Between Languages": a tokenizer trained on a skewed mix
    * gives under-represented languages systematically more subwords per
    * word, so equal text costs them more context window and more
    * compute). Per lang: doc/word/subword/char totals, fertility
    * (subwords per word), and chars-per-subword (the compression rate) —
    * exact long sums, one correctly-rounded division per ratio.
    *
    * Scale shape: x45b's exactly (the vocabulary-sized merged word
    * table broadcasts onto the corpus explode), with the per-doc regroup
    * replaced by a 5-row per-lang hash agg — map-side combine collapses
    * everything before the wire; n_docs rides countDistinct over the
    * same explode rather than a second scan. */
  val fertilityByLang = Q.withOracle(
    "x178_fertility_by_lang",
    "x178: per-language BPE fertility + compression under the learned merges",
    s"""$oracleChain,
       |wn AS MATERIALIZED (
       |  SELECT w, len(string_split(substr(repr, 2, len(repr) - 2), '][')) AS ns
       |  FROM w$Merges),
       |dw AS MATERIALIZED (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents)
       |SELECT d.lang,
       |  CAST(COUNT(DISTINCT d.doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(wn.ns) AS BIGINT) AS n_subwords,
       |  CAST(SUM(length(d.w)) AS BIGINT) AS n_chars,
       |  CAST(SUM(wn.ns) AS DOUBLE) / COUNT(*) AS fertility,
       |  CAST(SUM(length(d.w)) AS DOUBLE) / SUM(wn.ns) AS chars_per_subword
       |FROM dw d JOIN wn USING (w)
       |GROUP BY d.lang
       |ORDER BY d.lang""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val (words, _) = train(docs)
    val subCounts = words.select(col("w"),
      size(split(expr("substring(repr, 2, length(repr) - 2)"), "\\]\\[")).as("ns"))
    docs.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .join(broadcast(subCounts), "w")
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_words"),
        sum(col("ns")).cast("long").as("n_subwords"),
        sum(length(col("w"))).cast("long").as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_subwords"),
        col("n_chars"),
        (col("n_subwords").cast("double") / col("n_words")).as("fertility"),
        (col("n_chars").cast("double") / col("n_subwords")).as("chars_per_subword"))
      .orderBy(col("lang"))
  }

  val all: Seq[Q] = Seq(bpeMerges, bpeEncode, fertilityByLang)
}
