package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{TextClean, TokenOps}

/** Preprocessing-surface queries (SURVEY.md §2.2–2.4): scan/project, dropna,
  * string clean chain, filter, case/when label normalization, counts,
  * group-by counts, in-engine aggregate stats.
  *
  * Oracle discipline (SURVEY.md §2.7): trailing total ORDER BY, derived
  * integers cast to BIGINT on both sides, doubles rounded to 6, UTC.
  */
object TextQueries extends QueryModule {

  /** The shared chi² cell machinery (q_chi2_assoc / q_cramers_v): the
    * (lang, source) contingency cells with margin window sums and the
    * per-cell quantized (o·n − r·c)²/(n·r·c) term. Margins ride window
    * sums OVER THE CELL TABLE — the corpus scans exactly once
    * (plan-pinned); the windows (including the global one) move only
    * contingency-sized rows. The exact-DECIMAL difference rounds to
    * double ONCE and squares in double — squaring in decimal(38,0)
    * would NULL out past 38 digits (~N ≥ 5.6e9 rows) and silently drop
    * the cell (review finding r16); callers accumulate the qterm sum in
    * DECIMAL for the same reason (a long wraps once chi² exceeds ~9.2e9
    * on the 1e9 grid). */
  private def chi2Frame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val cells = Tables.documents(s, d)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
    val withMargins = cells
      .withColumn("r", sum(col("o")).over(Window.partitionBy(col("lang"))))
      .withColumn("c", sum(col("o")).over(Window.partitionBy(col("source"))))
      .withColumn("nn", sum(col("o")).over(Window.partitionBy()))
    val num = (dec(col("o")) * dec(col("nn")) -
      dec(col("r")) * dec(col("c"))).cast("double")
    withMargins.withColumn("qterm",
      round(num * num /
        (dec(col("nn")) * dec(col("r")) * dec(col("c"))).cast("double")
        * 1e9).cast("long"))
  }

  val queries: Map[String, Q] = Map(
    // S1/S3 + P2: scan with projection + pushed predicate. At scale the
    // filter and the 3-column projection must reach the parquet reader
    // (PushedFilters + ReadSchema) — verified in PlanSpec.
    "q_scan_project" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") < lit("2000-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // P1: dropna. NOT df.na.drop(): that compiles to AtLeastNNonNulls,
    // which never pushes to the scan — Filters.dropAnyNull emits pushable
    // per-column IsNotNull predicates instead (see Filters scaladoc).
    "q_dropna" -> ((s, d) =>
      graft.operators.Filters.dropAnyNull(Tables.documents(s, d))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))),

    // F1-F4 + P3: the reference clean chain over documents.text.
    "q_string_clean" -> ((s, d) =>
      TextClean.clean(Tables.documents(s, d))
        .select(col("doc_id"), col("text").as("clean_text"), col("text_length"))
        .orderBy(col("doc_id"))),

    // PII redaction scrub pass. The fixture corpus carries no PII, so a
    // deterministic contact blurb derived from doc_id is appended first —
    // the oracle builds the identical dirty text, so the cross-engine
    // contract exercises every redaction pattern on every row.
    "q_redact" -> ((s, d) => {
      val dirty = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com via https://example.org/u/"),
        col("doc_id").cast("string"),
        lit(" or 10.0."), (col("doc_id") % 256).cast("string"), lit(".1"),
        lit(" tel +1555010"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      Tables.documents(s, d)
        .select(col("doc_id"), TextClean.redact(dirty).as("redacted"))
        .orderBy(col("doc_id"))
    }),

    // Mean-rank quality ENSEMBLE: four independent signals (heuristic
    // quality, Flesch readability — higher better; repetition, unigram
    // NLL — lower better) combined by rank, not value, so no signal's
    // scale dominates and outliers can't capsize the blend (the
    // rank-fusion idea from RRF applied to curation scores). keep =
    // the top 60% by mean rank. This EXACT form rides corpus-wide rank
    // windows behind a loud ExactStats.guardExactRank; the 1e9-doc
    // path is q_quality_ensemble_gk (GK-digest band cuts, no global
    // sort).
    "q_quality_ensemble" -> ((s, d) => qualityEnsemble(s, d)),

    // GK-digest sibling — the 100 TB path the exact form's guard names:
    // per-signal percentile BANDS from mergeable GK sketches instead of
    // exact corpus-wide row_numbers. No unpartitioned window, no global
    // sort, no scalar join: cut points travel as plan literals (the
    // kmeans-centroid discipline — a bounded driver collect of
    // 4·(B−1)+1 doubles). Band fractions are merge-order dependent
    // within the ε rank guarantee ⇒ rows-only; QualityEnsembleGkSpec
    // bounds them against the exact form's normalized ranks.
    "q_quality_ensemble_gk" -> ((s, d) => qualityEnsembleGk(s, d)),

    // k-anonymity audit over the (lang, source, 50-char length band)
    // quasi-identifier: every group smaller than k=5 — the
    // re-identification risk readout a governance review runs before a
    // corpus ships (redaction does not help when the METADATA tuple is
    // unique). Wordcount-shaped reduce, cell-sized filter.
    "q_k_anonymity" -> ((s, d) =>
      graft.operators.Profiling.kAnonymityViolations(
          Tables.documents(s, d),
          Seq(col("lang"), col("source"),
            (floor(col("n_chars") / 50) * 50).cast("long").as("len_band")),
          k = 5)
        .orderBy(col("n"), col("lang"), col("source"), col("len_band"))),

    // Flesch reading ease per document (vowel-group syllable proxy,
    // terminal-punctuation sentences floored at 1) — the readability
    // screen beside the quality score. Row-local projection.
    "q_readability" -> ((s, d) => {
      val (ns, nw, nsy, fl) = TokenOps.readability(col("text"))
      Tables.documents(s, d).select(col("doc_id"),
          ns.as("n_sentences"), nw.as("n_words"),
          nsy.as("n_syllables"), fl.as("flesch"))
        .orderBy(col("doc_id"))
    }),

    // Luhn-validated payment-card scan (TextClean.cardScan): the fixture
    // carries no digit runs, so three card-shaped candidates are injected
    // per row (the q_redact discipline) — a Luhn-VALID spaced PAN, an
    // INVALID dashed one (check digit off by one), and a doc_id-derived
    // 16-digit run whose validity varies per row, so both engines compute
    // the checksum independently on every row. Only the valid subset
    // redacts — that's the point of validating.
    "q_pii_cards" -> ((s, d) => {
      val dirty = concat(col("text"),
        lit(" pay 4111 1111 1111 1111 ref 4111-1111-1111-1112 acct 4024"),
        lpad((col("doc_id") * 7919 % 1000000000).cast("string"), 9, "0"),
        lit("007"))
      val (cands, valids, redacted) = TextClean.cardScan(dirty)
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(cands).cast("long").as("n_candidates"),
          size(valids).cast("long").as("n_valid"),
          redacted.as("redacted"))
        .orderBy(col("doc_id"))
    }),

    // Unicode NFC canonicalization (functions.UnicodeNormalize). The
    // fixture corpus is pure ASCII — already NFC — so a DECOMPOSED-form
    // suffix is appended first (' cafe' + U+0301 combining acute, ' n' +
    // U+0303 combining tilde), which NFC must compose to é/ñ on both
    // engines: a real cross-engine normalization check on every row, not
    // an identity pass (the q_redact inject-the-dirt discipline).
    // len_raw − len_nfc == 2 per row (two combining marks composed away);
    // tail5 carries the composed non-ASCII text through the driver hash;
    // fp poly-hashes the WHOLE normalized string.
    "q_nfc_clean" -> ((s, d) => {
      val dirty = concat(col("text"), lit(" cafe\u0301 n\u0303o"))
      val norm = TextClean.normalizeNfc(dirty)
      Tables.documents(s, d)
        .select(col("doc_id"),
          length(dirty).cast("long").as("len_raw"),
          length(norm).cast("long").as("len_nfc"),
          substring(norm, -5, 5).as("tail5"),
          graft.functions.PolyHashF.poly_hash(norm).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // HTML tag/entity stripping (TextClean.stripHtml). The fixture is
    // plain text, so each row is wrapped in a deterministic full HTML
    // document on both engines (the q_redact inject-the-dirt
    // discipline) exercising every chain stage: doctype, head with
    // style + script blocks (the script body contains a bare '<' that
    // must vanish WITH the block), a comment, block tags that must
    // become newlines, and an entity sampler (decode set + numeric +
    // unknown). clean_len rides along so length canonicalization is
    // hash-checked too.
    "q_html_strip" -> ((s, d) => {
      val dirty = concat(
        lit("<!DOCTYPE html><html><head><style>p {color: red}</style>" +
          "<script type=\"text/javascript\">var x = 1 < 2;</script>" +
          "</head><body><!-- hidden --><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><p>"), col("text"),
        lit("</p><div>fish &amp; chips &lt;tag&gt; &quot;q&quot; " +
          "&apos;a&apos; x&nbsp;y &#169; &unknown;</div></body></html>"))
      val clean = TextClean.stripHtml(dirty)
      Tables.documents(s, d)
        .select(col("doc_id"), clean.as("clean_text"),
          length(clean).cast("long").as("clean_len"))
        .orderBy(col("doc_id"))
    }),

    // Line-level boilerplate removal (operators/Boilerplate): lines in
    // ≥ max(2, ceil(0.05·N)) docs vanish, survivors rejoin in order.
    // The fixture has no newlines, so a shared footer and a per-doc
    // unique marker line are injected on both engines (the q_redact
    // discipline): the footer must vanish from every doc, the marker
    // and the (unique) original text must survive.
    "q_boilerplate" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          lit("\nfollow us on example social\nid marker "),
          col("doc_id").cast("string")).as("text"))
      graft.operators.Boilerplate.removeBoilerplate(base, "doc_id", "text")
        .select(col("doc_id"), col("text").as("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // P5: predicate filter on computed length.
    "q_filter_length" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(length(col("text")) > 250)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // P4/F5: conditional projection (label normalization analogue).
    "q_case_when" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          when(col("lang") === "en", 1L).otherwise(0L).as("label"))
        .orderBy(col("doc_id"))),

    // A2: global count.
    "q_count" -> ((s, d) =>
      Tables.lineitem(s, d).agg(count(lit(1)).as("n"))),

    // A1: group-by count → partial+final HashAggregate, one shuffle on the
    // group key; at 100 TB this is the canonical map-side-combine agg.
    "q_groupby_count" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"))),

    // A3: in-engine stats (replaces the reference's driver-side pandas
    // stats at preprocessing.py:152-161 — never collect at scale).
    "q_agg_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .agg(
          round(avg(length(col("text"))), 6).as("avg_len"),
          max(length(col("text"))).cast("long").as("max_len"),
          min(length(col("text"))).cast("long").as("min_len"))),

    // Clamped-bin text-length histogram (the preprocessing chart input,
    // `preprocessing.py:78,137`): ONE hash aggregation to ≤ 61 rows at
    // any corpus size — the chart is driver-trivial because this
    // aggregate is, not because the corpus was sampled to pandas.
    "q_length_histogram" -> ((s, d) =>
      graft.operators.Profiling.lengthHistogram(Tables.documents(s, d))
        .select(col("bin_start").cast("long").as("bin_start"), col("n"))
        .orderBy(col("bin_start"))),

    // P6: bernoulli sample — engine-internal RNG, NOT oracle-declared
    // (rows-only check + property tests in SampleSpec).
    "q_sample" -> ((s, d) =>
      Tables.documents(s, d).sample(withReplacement = false, 0.2, seed = 42)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // Per-language length outliers (|z| > 2) — the statistical-outlier
    // curation gate. Algebra keeps everything integer until ONE double
    // division: z = (x - μ)/σ_pop = (x·n - Σx) / sqrt(n·Σx² - (Σx)²),
    // numerator and radicand exact DECIMAL integers (Σx² and (Σx)² wrap
    // a long once a group passes ~3e9 total chars — review finding
    // r16), so the double (and the >2 boundary) is the same IEEE chain
    // in both engines. The per-lang moment table is group-count-sized
    // and broadcasts back — the corpus scans twice but never shuffles.
    "q_outlier_docs" -> ((s, d) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val docs = Tables.documents(s, d)
      val st = docs.groupBy(col("lang")).agg(
        count(lit(1)).as("n"),
        sum(dec(col("n_chars"))).as("sx"),
        sum(dec(col("n_chars")) * dec(col("n_chars"))).as("sxx"))
      val z = (dec(col("n_chars")) * dec(col("n")) - col("sx"))
        .cast("double") /
        sqrt((dec(col("n")) * col("sxx") - col("sx") * col("sx"))
          .cast("double"))
      docs.join(broadcast(st), "lang")
        .filter(abs(z) > 2.0)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(z, 6).as("z"))
        .orderBy(col("doc_id"))
    }),

    // Chi-square test of lang x source independence (is the corpus mix
    // skewed?). One corpus aggregation builds the contingency cells;
    // margins derive from the CELL table (contingency-sized — never a
    // corpus re-scan). Per-cell term algebra stays integer to the last
    // step: (O·N − R·C)² / (N·R·C), both sides exact DECIMAL products,
    // ONE double division, then the 1e-9-grid quantize-and-integer-sum
    // discipline (a raw double sum over cells would be
    // accumulation-order-dependent).
    "q_chi2_assoc" -> ((s, d) =>
      chi2Frame(s, d).agg(count(lit(1)).as("n_cells"),
        ((count_distinct(col("lang")) - 1) *
          (count_distinct(col("source")) - 1)).as("dof"),
        round(sum(col("qterm").cast("decimal(38,0)")).cast("double") / 1e9, 6)
          .as("chi2"))),

    // Cramér's V — the NORMALIZED effect size on top of the chi²
    // statistic above: V = √(χ²/n / (min(r,c)−1)) ∈ [0,1], the number
    // analysts actually compare ACROSS tables of different sizes (a
    // chi² of 900 is huge at n=1000 and noise at n=10⁹; V says which).
    // Computed from the same exact-decimal cell machinery; V derives
    // from the 6dp-rounded chi² so both engines run the identical
    // sqrt chain.
    "q_cramers_v" -> ((s, d) =>
      chi2Frame(s, d)
        .agg(max(col("nn")).as("n_rows"),
          count_distinct(col("lang")).as("nl"),
          count_distinct(col("source")).as("ns"),
          round(sum(col("qterm").cast("decimal(38,0)")).cast("double") / 1e9,
            6).as("chi2"))
        .select(col("n_rows"), col("chi2"),
          round(sqrt(col("chi2") / col("n_rows").cast("double")
            / (least(col("nl"), col("ns")) - 1).cast("double")), 6)
            .as("cramers_v"))),

    // Shannon entropy of the language mix per source (corpus-diversity
    // readout). p·ln p terms quantize to the 1e-9 integer grid before
    // the (order-free) sum — the q_unigram_nll discipline for
    // transcendental terms.
    "q_source_entropy" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cells = Tables.documents(s, d)
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))
      // the per-source total is a window sum over the cell table — one
      // corpus scan, and the second grouping reuses the partitioning
      val p = col("o").cast("double") /
        sum(col("o")).over(Window.partitionBy(col("source"))).cast("double")
      val qterm = round(p * log(p) * lit(1e9)).cast("long")
      cells
        .select(col("source"), qterm.as("qterm"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_langs"),
          round(-(sum(col("qterm")).cast("double") / 1e9), 6).as("entropy"))
        .orderBy(col("source"))
    }),

    // Per-document CHARACTER-distribution entropy — the gibberish /
    // binary-noise screen quality pipelines run beside the word-level
    // gopher rules (natural text sits in a narrow entropy band; base64
    // blobs and aaaa-runs fall far outside it). Per-class −ln(c/n)
    // quantizes to the 1e-9 grid, rides the EXACT integer weighted sum
    // Σ c·t (order-free), and divides back once — the q_unigram_nll
    // transcendental discipline.
    //
    // Shape: the character distribution is a ROW-LOCAL fact, so it never
    // leaves its row — sort the doc's char array, run-length the class
    // boundaries, and fold the exact weighted sum per row (higher-order
    // functions, zero exchange). The previous form exploded every
    // character into a (doc, char) groupBy — a corpus×length-sized
    // shuffle that this plan deletes outright (2.05 s → 0.14 s measured
    // at sf0.1, and no shuffle to skew at 100 TB). Integer addition is
    // order-free, so the fold equals the old shuffle-side sum bit-exact
    // and the mirror is unchanged.
    "q_char_entropy" -> ((s, d) => {
      // empty docs out BEFORE the index sequence: Spark's
      // sequence(1, 0) DESCENDS to [1, 0] (two phantom '' chars) while
      // DuckDB's generate_series(1, 0) emits nothing — the SpanDedup/
      // FuzzyJoin gotcha. Filtered, both engines agree: an empty doc
      // has no character distribution and no row here.
      Tables.documents(s, d)
        .filter(length(col("text")) >= 1)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
          array_sort(transform(sequence(lit(1), length(col("text"))),
            i => col("text").substr(i, lit(1)))).as("sorted"))
        // 0-based start index of every equal-char run, then the run
        // lengths from consecutive starts (sentinel n at the end)
        .withColumn("starts",
          filter(sequence(lit(0), col("n_chars").cast("int") - 1),
            i => i === 0 ||
              element_at(col("sorted"), i + 1) =!= element_at(col("sorted"), i)))
        .withColumn("counts",
          zip_with(col("starts"),
            concat(slice(col("starts"), lit(2), size(col("starts"))),
              array(col("n_chars").cast("int"))),
            (a, b) => (b - a).cast("long")))
        .select(col("doc_id"), col("n_chars"),
          size(col("counts")).cast("long").as("n_classes"),
          round(aggregate(col("counts"), lit(0L), (acc, c) =>
            acc + c * round(-log(c.cast("double") /
              col("n_chars").cast("double")) * lit(1e9)).cast("long"))
            .cast("double") / col("n_chars")).cast("long")
            .as("entropy_nano"))
        .orderBy(col("doc_id"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '2000-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_dropna" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
        |  AND source IS NOT NULL AND n_chars IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    "q_string_clean" -> {
      val cleaned = TextClean.cleanTextSql("text")
      s"""SELECT doc_id, $cleaned AS clean_text,
         |  CAST(length($cleaned) AS BIGINT) AS text_length
         |FROM documents WHERE length($cleaned) > 0
         |ORDER BY doc_id""".stripMargin
    },

    "q_filter_length" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE length(text) > 250 ORDER BY doc_id""".stripMargin,

    // boilerplate mirror: identical injection, count(DISTINCT doc_id)
    // per line, the same max(2, ceil(0.05·N)) threshold, NOT EXISTS
    // anti (never NOT IN three-valued-logic), ordered string_agg
    "q_boilerplate" ->
      """WITH d AS (SELECT doc_id,
        |    text || chr(10) || 'follow us on example social'
        |      || chr(10) || 'id marker ' || CAST(doc_id AS VARCHAR) AS t
        |  FROM documents),
        |l AS (SELECT doc_id, generate_subscripts(split(t, chr(10)), 1) AS pos,
        |             unnest(split(t, chr(10))) AS line FROM d),
        |n AS (SELECT count(*) AS nn FROM documents),
        |b AS (SELECT line FROM
        |        (SELECT line, count(DISTINCT doc_id) AS ldf FROM l GROUP BY line)
        |      CROSS JOIN n
        |      WHERE ldf >= greatest(2,
        |        CAST(ceil(CAST(nn AS DOUBLE) * 0.05) AS BIGINT))),
        |k AS (SELECT doc_id, pos, line FROM l
        |      WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.line = l.line)),
        |s AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS t
        |      FROM k GROUP BY doc_id)
        |SELECT d2.doc_id, coalesce(s.t, '') AS clean_text
        |FROM documents d2 LEFT JOIN s USING (doc_id)
        |ORDER BY d2.doc_id""".stripMargin,

    // NFC mirror: DuckDB's BUILT-IN nfc_normalize (the Spark-side name
    // matches it deliberately); chr(769)/chr(771) are the combining
    // acute/tilde the Spark literal embeds as ́/̃.
    "q_nfc_clean" -> {
      val dirty = "(text || ' cafe' || chr(769) || ' n' || chr(771) || 'o')"
      val norm = s"nfc_normalize($dirty)"
      s"""SELECT doc_id,
         |  CAST(length($dirty) AS BIGINT) AS len_raw,
         |  CAST(length($norm) AS BIGINT) AS len_nfc,
         |  substring($norm, -5, 5) AS tail5,
         |  ${graft.functions.PolyHashF.polyHashSql(norm)} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // HTML-strip mirror: the identical injected document (no raw single
    // quotes in the literal — apostrophes ride as &apos; entities), the
    // shared stripHtmlSql chain (same pattern constants, 'g' flag).
    "q_html_strip" -> {
      val dirty = "'<!DOCTYPE html><html><head>" +
        "<style>p {color: red}</style>" +
        """<script type="text/javascript">var x = 1 < 2;</script>""" +
        "</head><body><!-- hidden --><h1>Doc ' || " +
        "CAST(doc_id AS VARCHAR) || '</h1><p>' || text || " +
        "'</p><div>fish &amp; chips &lt;tag&gt; &quot;q&quot; " +
        "&apos;a&apos; x&nbsp;y &#169; &unknown;</div></body></html>'"
      val clean = graft.operators.TextClean.stripHtmlSql(s"($dirty)")
      s"""SELECT doc_id, $clean AS clean_text,
         |  CAST(length($clean) AS BIGINT) AS clean_len
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "q_redact" -> {
      // `||` (not concat()) so a NULL text stays NULL like Spark's concat.
      val dirty = "text || ' contact user' || CAST(doc_id AS VARCHAR)" +
        " || '@example.com via https://example.org/u/'" +
        " || CAST(doc_id AS VARCHAR)" +
        " || ' or 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'" +
        " || ' tel +1555010' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
      s"""SELECT doc_id, ${TextClean.redactSql(s"($dirty)")} AS redacted
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // the four signal formulas copied textually from their own mirrors
    // (quality, readability, rep2, unigram NLL), ranked on the ROUNDED
    // values with doc_id tiebreaks exactly as the engine ranks
    "q_quality_ensemble" -> {
      val ws = graft.operators.TokenOps.WsRun
      val stopSql = graft.operators.TokenOps.sqlList(
        graft.operators.TokenOps.englishStopwords)
      val grams = "[array_to_string(t[i:i+1], ' ') " +
        "FOR i IN generate_series(1, greatest(len(t) - 1, 0))]"
      s"""WITH toks AS (SELECT doc_id, text,
         |    regexp_split_to_array(lower(text), '$ws') AS t
         |  FROM documents),
         |sig AS (SELECT doc_id,
         |    round(0.5 * least(CAST(len(t) AS DOUBLE) / 100.0, 1.0)
         |      + 0.3 * (1.0
         |        - CAST(len(list_filter(t, x -> x IN ($stopSql))) AS DOUBLE)
         |          / CAST(len(t) AS DOUBLE))
         |      + 0.2 * least((CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |          / CAST(len(t) AS DOUBLE)) / 10.0, 1.0), 6) AS quality,
         |    round(206.835
         |      - 1.015 * (CAST(len(t) AS DOUBLE)
         |        / CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
         |               AS DOUBLE))
         |      - 84.6 * (CAST(list_sum(list_transform(t,
         |          x -> len(regexp_extract_all(x, '[aeiouy]+')))) AS DOUBLE)
         |        / CAST(len(t) AS DOUBLE)), 6) AS flesch,
         |    CASE WHEN len($grams) = 0 THEN 0.0 ELSE
         |      round(1.0 - CAST(len(list_distinct($grams)) AS DOUBLE)
         |        / len($grams), 6) END AS rep2
         |  FROM toks),
         |tk AS (SELECT doc_id, unnest(t) AS token FROM toks),
         |counts AS (SELECT token, count(*) AS c FROM tk GROUP BY token),
         |stats AS (SELECT sum(c) AS n, count(*) AS v FROM counts),
         |scored AS (
         |  SELECT tk.doc_id,
         |    CAST(round(-ln(CAST(c + 1 AS DOUBLE) / CAST(n + v AS DOUBLE))
         |      * 1000000000.0) AS BIGINT) AS nq
         |  FROM tk JOIN counts USING (token) CROSS JOIN stats),
         |nlltab AS (SELECT doc_id,
         |    round(CAST(sum(nq) AS DOUBLE) / 1000000000.0
         |      / CAST(count(*) AS DOUBLE), 6) AS nll
         |  FROM scored GROUP BY doc_id),
         |r AS (SELECT sig.doc_id,
         |    CAST(row_number() OVER (ORDER BY quality DESC, sig.doc_id)
         |      AS BIGINT) AS r_quality,
         |    CAST(row_number() OVER (ORDER BY flesch DESC, sig.doc_id)
         |      AS BIGINT) AS r_flesch,
         |    CAST(row_number() OVER (ORDER BY rep2 ASC, sig.doc_id)
         |      AS BIGINT) AS r_rep,
         |    CAST(row_number() OVER (ORDER BY nll ASC, sig.doc_id)
         |      AS BIGINT) AS r_nll,
         |    count(*) OVER () AS nn
         |  FROM sig JOIN nlltab ON sig.doc_id = nlltab.doc_id),
         |m AS (SELECT *, CAST(r_quality + r_flesch + r_rep + r_nll
         |        AS DOUBLE) / 4.0 AS mean_rank FROM r),
         |f AS (SELECT *, row_number() OVER (ORDER BY mean_rank, doc_id)
         |        AS ens_rank FROM m)
         |SELECT doc_id, r_quality, r_flesch, r_rep, r_nll,
         |  round(mean_rank, 6) AS mean_rank,
         |  (ens_rank <= CAST(ceil(CAST(nn AS DOUBLE) * 0.6) AS BIGINT))
         |    AS keep
         |FROM f ORDER BY doc_id""".stripMargin
    },

    "q_k_anonymity" ->
      """SELECT lang, source,
        |  CAST(floor(n_chars / 50) * 50 AS BIGINT) AS len_band,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM documents GROUP BY 1, 2, 3 HAVING count(*) < 5
        |ORDER BY n, lang, source, len_band""".stripMargin,

    "q_readability" -> {
      val ws = graft.operators.TokenOps.WsRun
      s"""WITH t AS (SELECT doc_id,
         |    regexp_split_to_array(lower(text), '$ws') AS toks,
         |    greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS ns
         |  FROM documents),
         |m AS (SELECT doc_id, CAST(ns AS BIGINT) AS n_sentences,
         |    CAST(len(toks) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(toks,
         |      x -> len(regexp_extract_all(x, '[aeiouy]+'))))
         |      AS BIGINT) AS n_syllables
         |  FROM t)
         |SELECT doc_id, n_sentences, n_words, n_syllables,
         |  round(206.835
         |    - 1.015 * (CAST(n_words AS DOUBLE)
         |               / CAST(n_sentences AS DOUBLE))
         |    - 84.6 * (CAST(n_syllables AS DOUBLE)
         |              / CAST(n_words AS DOUBLE)), 6) AS flesch
         |FROM m ORDER BY doc_id""".stripMargin
    },

    "q_pii_cards" -> {
      val dirty = "text || ' pay 4111 1111 1111 1111 " +
        "ref 4111-1111-1111-1112 acct 4024'" +
        " || lpad(CAST(doc_id * 7919 % 1000000000 AS VARCHAR), 9, '0')" +
        " || '007'"
      // generate_subscripts keeps duplicate candidate OCCURRENCES apart
      // (Spark's arrays count occurrences); reversed-position parity is
      // (len - i) % 2 for 1-based i — the same digits Spark doubles.
      s"""WITH dirty AS (
         |  SELECT doc_id, $dirty AS t FROM documents),
         |cl AS (SELECT doc_id, t,
         |  regexp_extract_all(t, '${TextClean.CardCandidatePattern}') AS r
         |  FROM dirty),
         |cands AS (SELECT doc_id, generate_subscripts(r, 1) AS ci,
         |                 unnest(r) AS cand FROM cl),
         |norm AS (SELECT doc_id, ci, cand,
         |  replace(replace(cand, ' ', ''), '-', '') AS pan FROM cands),
         |dig AS (SELECT doc_id, ci, cand, (len(pan) - i) % 2 AS odd,
         |               CAST(substr(pan, i, 1) AS INT) AS dv
         |        FROM norm, unnest(generate_series(1, len(pan))) AS u(i)),
         |luhn AS (SELECT doc_id, ci, cand,
         |    sum(CASE WHEN odd = 1
         |        THEN CASE WHEN dv*2 > 9 THEN dv*2 - 9 ELSE dv*2 END
         |        ELSE dv END) AS s
         |  FROM dig GROUP BY doc_id, ci, cand),
         |valids AS (SELECT doc_id, ci, cand FROM luhn WHERE s % 10 = 0),
         |vl AS (SELECT doc_id, list(cand ORDER BY cand) AS vs,
         |              count(*) AS nv FROM valids GROUP BY doc_id),
         |nc AS (SELECT doc_id, count(*) AS n FROM cands GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(nc.n, 0) AS BIGINT) AS n_candidates,
         |  CAST(coalesce(vl.nv, 0) AS BIGINT) AS n_valid,
         |  CASE WHEN vl.vs IS NULL THEN d.t
         |       ELSE list_reduce([d.t] || vl.vs,
         |                        (acc, x) -> replace(acc, x, '<CARD>')) END
         |    AS redacted
         |FROM dirty d LEFT JOIN nc USING (doc_id) LEFT JOIN vl USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    "q_case_when" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS label
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_count" ->
      "SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem",

    "q_groupby_count" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_agg_stats" ->
      """SELECT round(avg(length(text)), 6) AS avg_len,
        |  CAST(max(length(text)) AS BIGINT) AS max_len,
        |  CAST(min(length(text)) AS BIGINT) AS min_len
        |FROM documents""".stripMargin,

    "q_length_histogram" ->
      """SELECT CAST(floor(least(length(text), 300) / 5) * 5 AS BIGINT)
        |    AS bin_start,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM documents WHERE text IS NOT NULL
        |GROUP BY 1 ORDER BY bin_start""".stripMargin,

    "q_outlier_docs" ->
      """WITH st AS (
        |  SELECT lang, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(n_chars) AS HUGEINT) AS sx,
        |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS sxx
        |  FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  round(CAST(d.n_chars * st.n - st.sx AS DOUBLE) /
        |    sqrt(CAST(st.n * st.sxx - st.sx * st.sx AS DOUBLE)), 6) AS z
        |FROM documents d JOIN st ON d.lang = st.lang
        |WHERE abs(CAST(d.n_chars * st.n - st.sx AS DOUBLE) /
        |    sqrt(CAST(st.n * st.sxx - st.sx * st.sx AS DOUBLE))) > 2
        |ORDER BY doc_id""".stripMargin,

    "q_chi2_assoc" ->
      """WITH cells AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY lang, source),
        |r AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r
        |      FROM cells GROUP BY lang),
        |c AS (SELECT source, CAST(sum(o) AS BIGINT) AS c
        |      FROM cells GROUP BY source),
        |t AS (SELECT CAST(sum(o) AS BIGINT) AS nn,
        |        CAST(count(DISTINCT lang) AS BIGINT) AS nl,
        |        CAST(count(DISTINCT source) AS BIGINT) AS ns
        |      FROM cells),
        |q AS (
        |  SELECT CAST(round(
        |    CAST(CAST(cells.o AS HUGEINT) * t.nn
        |         - CAST(r.r AS HUGEINT) * c.c AS DOUBLE)
        |    * CAST(CAST(cells.o AS HUGEINT) * t.nn
        |         - CAST(r.r AS HUGEINT) * c.c AS DOUBLE) /
        |    CAST(CAST(t.nn AS HUGEINT) * r.r * c.c AS DOUBLE) * 1e9)
        |    AS BIGINT) AS qterm,
        |    t.nl AS nl, t.ns AS ns
        |  FROM cells JOIN r ON cells.lang = r.lang
        |             JOIN c ON cells.source = c.source
        |             CROSS JOIN t)
        |SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |  max((nl - 1) * (ns - 1)) AS dof,
        |  round(CAST(sum(qterm) AS DOUBLE) / 1e9, 6) AS chi2
        |FROM q""".stripMargin,

    // Cramér's V mirror: the chi² chain plus the identical
    // √(χ²/n/(min−1)) from the 6dp-rounded chi²
    "q_cramers_v" ->
      """WITH cells AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY lang, source),
        |r AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r
        |      FROM cells GROUP BY lang),
        |c AS (SELECT source, CAST(sum(o) AS BIGINT) AS c
        |      FROM cells GROUP BY source),
        |t AS (SELECT CAST(sum(o) AS BIGINT) AS nn,
        |        CAST(count(DISTINCT lang) AS BIGINT) AS nl,
        |        CAST(count(DISTINCT source) AS BIGINT) AS ns
        |      FROM cells),
        |q AS (
        |  SELECT CAST(round(
        |    CAST(CAST(cells.o AS HUGEINT) * t.nn
        |         - CAST(r.r AS HUGEINT) * c.c AS DOUBLE)
        |    * CAST(CAST(cells.o AS HUGEINT) * t.nn
        |         - CAST(r.r AS HUGEINT) * c.c AS DOUBLE) /
        |    CAST(CAST(t.nn AS HUGEINT) * r.r * c.c AS DOUBLE) * 1e9)
        |    AS BIGINT) AS qterm,
        |    t.nn AS nn, t.nl AS nl, t.ns AS ns
        |  FROM cells JOIN r ON cells.lang = r.lang
        |             JOIN c ON cells.source = c.source
        |             CROSS JOIN t),
        |a AS (SELECT CAST(max(nn) AS BIGINT) AS n_rows,
        |        max(least(nl, ns) - 1) AS mindim,
        |        round(CAST(sum(qterm) AS DOUBLE) / 1e9, 6) AS chi2
        |      FROM q)
        |SELECT n_rows, chi2,
        |  round(sqrt(chi2 / CAST(n_rows AS DOUBLE)
        |    / CAST(mindim AS DOUBLE)), 6) AS cramers_v
        |FROM a""".stripMargin,

    "q_source_entropy" ->
      """WITH cells AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY source, lang),
        |r AS (SELECT source, CAST(sum(o) AS BIGINT) AS r
        |      FROM cells GROUP BY source)
        |SELECT cells.source, CAST(count(*) AS BIGINT) AS n_langs,
        |  round(-(CAST(sum(CAST(round(
        |      CAST(o AS DOUBLE) / CAST(r.r AS DOUBLE)
        |        * ln(CAST(o AS DOUBLE) / CAST(r.r AS DOUBLE)) * 1e9)
        |    AS BIGINT)) AS DOUBLE) / 1e9), 6) AS entropy
        |FROM cells JOIN r ON cells.source = r.source
        |GROUP BY cells.source ORDER BY cells.source""".stripMargin,

    "q_char_entropy" ->
      """WITH ch AS (SELECT doc_id, substring(text, i, 1) AS ch
        |            FROM documents,
        |              unnest(generate_series(1, length(text))) AS u(i)),
        |c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
        |w AS (SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n
        |      FROM c),
        |t AS (SELECT doc_id, c, n,
        |        CAST(round(-ln(CAST(c AS DOUBLE) / n) * 1e9) AS BIGINT)
        |          AS t
        |      FROM w)
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(round(CAST(sum(c * t) AS DOUBLE) / max(n)) AS BIGINT)
        |    AS entropy_nano
        |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )

  /** The ensemble's shared 4-signal frame (doc_id, quality, flesch,
    * rep2, nll), localCheckpoint'd: both forms make MULTIPLE cheap
    * passes over these five columns (guard count + five windows exact;
    * digest / band / keep-cut passes GK), so the signal computation —
    * which carries UnigramLM.nll's token explode and its 1-row (N, V)
    * corpus-stats join — runs exactly ONCE (the q_textrank
    * materialize-once discipline; ~40 B/row, executor-local). */
  private val ensembleSignalCache =
    new graft.util.SessionCache[org.apache.spark.sql.DataFrame]

  /** The shared 4-signal frame build is a multi-second one-time cost per
    * (session, dataset); naming it in Bench's warm ledger keeps the
    * headline numbers honest about what the memo absorbs (the
    * langid_ngram_model attribution discipline — r18 verdict #8). */
  override val warmups: Map[String,
      (org.apache.spark.sql.SparkSession, String) => Unit] = Map(
    "ensemble_signals" -> ((s, d) => { ensembleSignals(s, d); () }))

  private def ensembleSignals(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    // memoized per (session, dataset) — both ensemble forms and every
    // bench re-run reuse ONE checkpointed RDD instead of accumulating
    // storage blocks per invocation (the curatedCache discipline)
    ensembleSignalCache.getOrElseUpdate(s, d) {
      val docs = Tables.documents(s, d)
      val (_, _, q) = TokenOps.qualityScore(col("text"))
      val (_, _, _, fl) = TokenOps.readability(col("text"))
      val rep = TokenOps.repetitionRatio(col("text"), 2)
      docs.select(col("doc_id"), q.as("quality"),
          fl.as("flesch"), rep.as("rep2"))
        .join(graft.operators.UnigramLM.nll(docs, "doc_id", "text")
          .select(col("doc_id"), col("nll")), "doc_id")
        .localCheckpoint()
    }

  /** q_quality_ensemble body — the EXACT form, with the corpus-wide
    * rank-window scale guard parameterized so EnsembleGuardSpec can
    * prove it trips. The guard's count also closes the keep cut: the
    * counted total folds back into the plan as a LITERAL threshold
    * (ceil(0.6·n) computed driver-side, the kmeans-centroid bounded-
    * collect discipline), so the old global `count() OVER ()` window —
    * which Spark 4 rewrites into an un-allowlisted nested-loop scalar
    * join — is gone entirely. */
  private[graft] def qualityEnsemble(s: org.apache.spark.sql.SparkSession,
      d: String,
      maxRows: Long = graft.operators.ExactStats.DefaultMaxGroupRows)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = ensembleSignals(s, d)
    val n = graft.operators.ExactStats.guardExactRank(base,
      "mean-rank quality ensemble (exact corpus-wide rank windows)",
      maxRows, memoKey = Some(s"ensemble-rank|$d"))
    def rk(c: org.apache.spark.sql.Column, asc: Boolean) =
      row_number().over(Window.orderBy(
        if (asc) c.asc else c.desc, col("doc_id"))).cast("long")
    val ranked = base.select(col("doc_id"),
      rk(col("quality"), asc = false).as("r_quality"),
      rk(col("flesch"), asc = false).as("r_flesch"),
      rk(col("rep2"), asc = true).as("r_rep"),
      rk(col("nll"), asc = true).as("r_nll"))
    val mean = (col("r_quality") + col("r_flesch") + col("r_rep") +
      col("r_nll")).cast("double") / 4.0
    ranked
      .withColumn("mean_rank", mean)
      .withColumn("ens_rank",
        row_number().over(Window.orderBy(col("mean_rank"), col("doc_id")))
          .cast("long"))
      .withColumn("keep",
        col("ens_rank") <= lit(math.ceil(n.toDouble * 0.6).toLong))
      .select(col("doc_id"), col("r_quality"), col("r_flesch"),
        col("r_rep"), col("r_nll"),
        round(col("mean_rank"), 6).as("mean_rank"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** q_quality_ensemble_gk body — the 100 TB rank-fusion path. Three
    * column-pruned passes over the checkpointed signal frame, all
    * mergeable-aggregate or row-local:
    *  1. ONE aggregation digests all four signals (GK, ε) and extracts
    *     the B−1 interior quantile cuts per signal;
    *  2. every row binary-searches the literal cuts ([[graft.functions
    *     .BandExprs]]) — band fraction ≈ the exact form's normalized
    *     rank, error ≤ 1/B + 2ε in strict-cdf terms;
    *  3. one more digest over the mean band fraction yields the 0.6
    *     keep cut, applied row-locally.
    * No unpartitioned window, no global sort, no scalar join — the
    * plan the exact form's guard message points at. */
  private[graft] def qualityEnsembleGk(s: org.apache.spark.sql.SparkSession,
      d: String, bands: Int = 128, eps: Double = 0.002)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.{BandExprs, QuantileSketch}
    val base = ensembleSignals(s, d)
    val probs = array((1 until bands).map(i =>
      lit(i.toDouble / bands)): _*)
    def cutsOf(c: String) = QuantileSketch.gk_quantiles(
      QuantileSketch.gk_sketch_agg(col(c), eps), probs)
    val row = base.agg(cutsOf("quality").as("c_q"),
      cutsOf("flesch").as("c_f"), cutsOf("rep2").as("c_r"),
      cutsOf("nll").as("c_n")).head()
    def cuts(i: Int) = row.getSeq[Double](i).toArray
    val scored = base.select(col("doc_id"),
        BandExprs.bandFrac(col("quality"), cuts(0), desc = true, bands)
          .as("pct_quality"),
        BandExprs.bandFrac(col("flesch"), cuts(1), desc = true, bands)
          .as("pct_flesch"),
        BandExprs.bandFrac(col("rep2"), cuts(2), desc = false, bands)
          .as("pct_rep"),
        BandExprs.bandFrac(col("nll"), cuts(3), desc = false, bands)
          .as("pct_nll"))
      .withColumn("mean_pct",
        (col("pct_quality") + col("pct_flesch") + col("pct_rep") +
          col("pct_nll")) / 4.0)
    val q60 = scored.agg(QuantileSketch.gk_quantiles(
        QuantileSketch.gk_sketch_agg(col("mean_pct"), eps),
        array(lit(0.6)))).head().getSeq[Double](0).head
    scored
      .withColumn("keep", col("mean_pct") <= lit(q60))
      .orderBy(col("doc_id"))
  }
}
