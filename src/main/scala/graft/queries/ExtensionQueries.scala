package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.Similarity
import graft.ops.{Dedup, EventWindows, Mixing, Multimodal, Packing, Pipeline, Ranking, TextAnalysis}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import Exact.dec

/** North-star extension queries (the LLM-training-data-pipeline surface):
  * deduplication, similarity search, text analysis, multimodal plumbing,
  * event-time windows.
  *
  * Oracle parity strategy: every hash is salted md5 (bit-identical in
  * Spark and DuckDB), every window start is integer epoch arithmetic, and
  * engine-shared SQL snippets are *generated once in Scala* and used on
  * both sides (simhash bits, token hashes, LSH hyperplanes) — so even the
  * approximate algorithms are exactly reproducible.
  */
object ExtensionQueries {

  private val M = "1000000000000" // fingerprint modulus, fits BIGINT·31 + hash

  /** DuckDB-side token hash identical to TextAnalysis.tokenHashSql. */
  private def hashSql = TextAnalysis.tokenHashSql("t")

  /** Generated ±1 hyperplane literals shared with Similarity.planeSigns. */
  private def planeSqlArray(plane: Array[Int]): String =
    plane.map(v => s"$v.0").mkString("[", ",", "]") + "::DOUBLE[]"

  /** DuckDB CTE chain ending in `pairs(id_a, id_b)` — the exact replay of
    * Dedup.lshCandidatePairs(bands=2, rowsPerBand=4); shared by x03 and
    * the x30 clustering stage built on top of it.
    */
  private def bandKeyCtes(p: String, where: String,
      from: String = "documents", bands: Int = 2,
      rowsPerBand: Int = 4): String = {
    import graft.ops.Dedup.{MinhashA, MinhashB, MinhashP}
    val k = bands * rowsPerBand
    require(k <= MinhashA.size, s"at most ${MinhashA.size} hash functions")
    val mins = (0 until k).map(i =>
      s"min((hm * ${MinhashA(i)} + ${MinhashB(i)}) % $MinhashP) AS mh$i").mkString(", ")
    def band(cols: Range) =
      cols.map(i => s"CAST(mh$i AS VARCHAR)").mkString(" || ':' || ")
    val bandCols = (0 until bands).map(b =>
      s"md5(${band(b * rowsPerBand until (b + 1) * rowsPerBand)}) AS b$b")
      .mkString(", ")
    val stacked = (0 until bands).map(b =>
      s"SELECT doc_id, $b AS bid, b$b AS bk FROM ${p}bands")
      .mkString("\n            UNION ALL ")
    s"""${p}arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM $from$where),
       |${p}sh AS (SELECT doc_id, unnest(CASE WHEN len(a) >= 5
       |    THEN list_transform(range(1, len(a) - 3), i -> array_to_string(a[i:i+4], ' '))
       |    ELSE [array_to_string(a, ' ')] END) AS tok FROM ${p}arr),
       |${p}toks AS (SELECT DISTINCT doc_id, tok FROM ${p}sh),
       |${p}h AS (SELECT doc_id, ${Dedup.digestModSql("md5h")} AS hm
       |      FROM (SELECT doc_id, md5(tok) AS md5h FROM ${p}toks) d),
       |${p}sig AS (SELECT doc_id, $mins FROM ${p}h GROUP BY doc_id),
       |${p}bands AS (SELECT doc_id, $bandCols FROM ${p}sig),
       |${p}stacked AS ($stacked)""".stripMargin
  }

  /** DuckDB replay of Dedup.pairJoin's mega-bucket star policy over a
    * stacked (doc_id, bid, bk) CTE: dense a < b pairs for buckets at or
    * under the cap, min-id star edges above it. Emits `<out>_sz` (the
    * windowed bucket stats) and `out` (DISTINCT id_a, id_b).
    */
  private def cappedPairCtes(stackedCte: String, out: String,
      materialized: Boolean = false,
      cap: Int = Dedup.DefaultMaxBucket): String = {
    val mat = if (materialized) " MATERIALIZED" else ""
    s"""${out}_sz AS (SELECT doc_id, bid, bk,
       |    COUNT(*) OVER (PARTITION BY bid, bk) AS zm,
       |    MIN(doc_id) OVER (PARTITION BY bid, bk) AS zhub
       |  FROM $stackedCte),
       |$out AS$mat (SELECT DISTINCT id_a, id_b FROM (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ${out}_sz a JOIN ${out}_sz b
       |    ON a.bid = b.bid AND a.bk = b.bk AND a.doc_id < b.doc_id
       |    AND a.zm <= $cap
       |  UNION ALL
       |  SELECT zhub AS id_a, doc_id AS id_b FROM ${out}_sz
       |  WHERE zm > $cap AND doc_id <> zhub) u)""".stripMargin
  }

  /** DuckDB replay of Dedup.hashNearDupPairs' star policy over a stacked
    * CTE carrying (doc_id, sig, bid, bv) columns (any names): emits `out`
    * holding DISTINCT (id_a, id_b, hamming), already filtered at
    * `maxHamming`. Star edges verify hamming against the bucket hub's
    * signature, exactly like the Spark side.
    */
  private def cappedHammingCtes(stackedCte: String, out: String,
      sig: String, bid: String, bv: String, maxHamming: Int,
      cap: Int = Dedup.DefaultMaxBucket): String =
    s"""${out}_sz AS (SELECT *,
       |    COUNT(*) OVER (PARTITION BY $bid, $bv) AS zm,
       |    MIN(doc_id) OVER (PARTITION BY $bid, $bv) AS zhub,
       |    arg_min($sig, doc_id) OVER (PARTITION BY $bid, $bv) AS zhubsig
       |  FROM $stackedCte),
       |$out AS (SELECT DISTINCT id_a, id_b, hamming FROM (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.$sig, b.$sig)) AS BIGINT) AS hamming
       |  FROM ${out}_sz a JOIN ${out}_sz b
       |    ON a.$bid = b.$bid AND a.$bv = b.$bv AND a.doc_id < b.doc_id
       |    AND a.zm <= $cap
       |  UNION ALL
       |  SELECT zhub AS id_a, doc_id AS id_b,
       |    CAST(bit_count(xor(zhubsig, $sig)) AS BIGINT) AS hamming
       |  FROM ${out}_sz WHERE zm > $cap AND doc_id <> zhub) u
       |  WHERE hamming <= $maxHamming)""".stripMargin

  private def lshPairsCtes: String =
    // AS MATERIALIZED: pairs is referenced by every downstream consumer
    // (cluster rounds, jaccard stages) — without it DuckDB re-executes
    // the whole minhash chain per reference, which would flatter our
    // side of the bench comparison. Semantics unchanged.
    s"""${bandKeyCtes("", "")},
       |${cappedPairCtes("stacked", "pairs", materialized = true)}""".stripMargin

  /** DuckDB CTEs computing sig(doc_id, simhash) at `nBits`, shared by the
    * x05 signature query and the x31 banded near-dup query. */
  private def simhashCtes(nBits: Int, where: String): String = {
    val sums = (0 until nBits).map(j => s"SUM(${Dedup.simhashBitSql(j)}) AS s$j").mkString(", ")
    val bits = (0 until nBits).map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents$where),
       |sums AS (SELECT doc_id, $sums FROM toks GROUP BY doc_id),
       |sig AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM sums)""".stripMargin
  }

  /** CTE chain computing `${p}l{rounds}(id, lbl)` — the min-label
    * propagation replay of Dedup.clusterPairs over `pairsName(id_a,
    * id_b)`. The name prefix lets one query replay TWO propagations
    * (token near-dup + semantic near-dup in x60) without CTE clashes. */
  private def clusterCtes(rounds: Int, p: String = "",
      pairsName: String = "pairs"): String = {
    // each round's labels are read twice by the next round (the base and
    // the neighbor-min subquery) — MATERIALIZED keeps the replay linear
    val prop = (1 to rounds).map { i =>
      s"""${p}l$i AS MATERIALIZED (SELECT l.id, LEAST(l.lbl, COALESCE(m.nlbl, l.lbl)) AS lbl
         |  FROM ${p}l${i - 1} l LEFT JOIN (
         |    SELECT e.src AS id, MIN(p.lbl) AS nlbl
         |    FROM ${p}edges e JOIN ${p}l${i - 1} p ON p.id = e.dst GROUP BY e.src) m
         |  ON m.id = l.id)""".stripMargin
    }.mkString(",\n")
    s"""${p}edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM $pairsName
       |          UNION ALL SELECT id_b AS src, id_a AS dst FROM $pairsName),
       |${p}l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM ${p}edges),
       |$prop""".stripMargin
  }

  /** DuckDB replay of Dedup.clusterPairs over the LSH pairs. */
  private def clusterSql(rounds: Int): String =
    s"""WITH $lshPairsCtes,
       |${clusterCtes(rounds)}
       |SELECT id AS doc_id, lbl AS cluster FROM l$rounds ORDER BY doc_id""".stripMargin

  /** DuckDB per-language stopword score columns (score_en, ...). */
  private def langScoresSql: String = TextAnalysis.stopwords.map { case (lang, ws) =>
    val list = ws.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split(text, ' '), t -> t IN ($list))) AS score_$lang"
  }.mkString(",\n  ")

  /** Argmax-with-list-order language pick over the score_* columns. */
  private def langPredSql: String = {
    val langs = TextAnalysis.stopwords.map(_._1)
    val m = langs.map(l => s"score_$l").mkString("greatest(", ", ", ")")
    langs.map(l => s"WHEN score_$l = $m THEN '$l'")
      .mkString("CASE ", " ", " ELSE 'und' END")
  }

  /** The x07 quality formula as one DuckDB expression over `text`. */
  private def qualityExprSql: String =
    """(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |    / len(string_split(text, ' ')))
      |  * (1.0 - CAST(len(list_filter(string_split(text, ' '), t -> length(t) = 1)) AS DOUBLE)
      |    / len(string_split(text, ' ')))""".stripMargin

  /** Prefix-named k-means CTE chain over a caller-supplied vector source
    * (`vSql` must select `vec_id, e DOUBLE[]`): emits `${p}v`,
    * `${p}c0..c$iters`, and the final assignment `${p}af(vec_id, cell,
    * e)`, with Similarity.kmeansCentroids' init / fixed-point update /
    * tie-break rules, one CTE block per Lloyd iteration. The prefix lets
    * the chain embed inside a larger WITH (x60's curation replay)
    * without clashing with its CTE names. */
  private def kmeansCtes(nCells: Int, iters: Int, p: String,
      vSql: String): String = {
    def cos(a: String, b: String) =
      s"round(list_dot_product($a, $b)/sqrt(list_dot_product($a,$a)*list_dot_product($b,$b)),6)"
    def assign(name: String, cents: String) =
      s"""$name AS (SELECT vec_id, cell, e FROM (
         |  SELECT v.vec_id, c.cent_id AS cell, v.e,
         |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |      ORDER BY ${cos("v.e", "c.ce")} DESC, c.cent_id ASC) AS rn
         |  FROM ${p}v v CROSS JOIN $cents c) t WHERE rn = 1)""".stripMargin
    def update(i: Int) =
      s"""${p}s$i AS (SELECT cell, pos,
         |    CAST(SUM(CAST(floor(comp*1000000.0) AS BIGINT)) AS BIGINT) AS s, COUNT(*) AS n
         |  FROM (SELECT cell, unnest(e) AS comp, generate_subscripts(e, 1) AS pos FROM ${p}a$i) u
         |  GROUP BY cell, pos),
         |${p}n$i AS (SELECT cell AS cent_id, list(CAST(s AS DOUBLE)/1000000.0/n ORDER BY pos) AS ce
         |  FROM ${p}s$i GROUP BY cell),
         |${p}c$i AS (SELECT p.cent_id, COALESCE(f.ce, p.ce) AS ce
         |  FROM ${p}c${i - 1} p LEFT JOIN ${p}n$i f ON f.cent_id = p.cent_id)""".stripMargin
    val parts = Seq(
      s"${p}v AS ($vSql)",
      s"${p}c0 AS (SELECT vec_id AS cent_id, e AS ce FROM ${p}v ORDER BY vec_id LIMIT $nCells)") ++
      (1 to iters).flatMap(i => Seq(assign(s"${p}a$i", s"${p}c${i - 1}"), update(i))) ++
      Seq(assign(s"${p}af", s"${p}c$iters"))
    parts.mkString(",\n")
  }

  /** DuckDB replay of Similarity.kmeansCentroids + final assignment over
    * the embeddings table (x17/x28/x44 surface). */
  private def kmeansSql(nCells: Int, iters: Int,
      finalSelect: String = "SELECT vec_id, cell FROM af ORDER BY vec_id",
      where: String = ""): String =
    s"WITH ${kmeansCtes(nCells, iters, "",
      s"SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings$where")}\n$finalSelect"

  /** The shared WITH-body of the curation pipeline replay, up to and
    * including the `clean` survivor CTE — curationSql appends the
    * shuffle+shard tail, curationFunnelSql the per-source stage counts.
    * `p` prefixes every CTE name so one query can replay the pipeline
    * over TWO corpus snapshots (x112); `corpusPred` is the snapshot
    * predicate over `documents`. Defaults reproduce the historical
    * single-snapshot text byte-for-byte.
    */
  private def curationCtes(semantic: Boolean, cap: Option[Int] = None,
      lines: Boolean = false, p: String = "",
      corpusPred: String = "doc_id % 97 != 0",
      corpusSql: Option[String] = None,
      embSql: String = "SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings",
      semanticBands: Option[(Int, Int)] = None): String = {
    require(!lines || cap.isEmpty, "line-stage variant composes with cap=None")
    require(corpusSql.isEmpty || (cap.isEmpty && !lines),
      "corpus override composes with the plain pipeline only")
    def cos(a: String, b: String) =
      s"round(list_dot_product($a, $b)/sqrt(list_dot_product($a,$a)*list_dot_product($b,$b)),6)"
    // semantic candidate generation, two replays of the two Spark modes:
    //  - cell mode (semanticBands empty): trained k-means cells + dense
    //    same-cell pairs (Similarity.cellNearDupPairs)
    //  - banded mode: sign-LSH band buckets + the capped pair policy
    //    (Similarity.bandedNearDupPairs), cosine-verified like the cell
    //    mode — cappedPairCtes is the same star-edge replay the token
    //    stage uses
    val semanticPairCtes = semanticBands match {
      case None =>
        s"""${kmeansCtes(8, 2, s"${p}s",
             s"""SELECT vec_id, e FROM ($embSql) zemb
               |  WHERE vec_id IN (SELECT doc_id FROM ${p}dedup)""".stripMargin)},
           |${p}spairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM ${p}saf a JOIN ${p}saf b ON a.cell = b.cell AND a.vec_id < b.vec_id
           |  WHERE ${cos("a.e", "b.e")} >= 0.4)""".stripMargin
      case Some((nBands, planesPerBand)) =>
        s"""${p}semb AS MATERIALIZED (SELECT vec_id, e FROM ($embSql) zemb
           |  WHERE vec_id IN (SELECT doc_id FROM ${p}dedup)),
           |${p}sestacked AS (${embBandStackSql(s"${p}semb", nBands,
                planesPerBand, 64)}),
           |${cappedPairCtes(s"${p}sestacked", s"${p}serawpairs")},
           |${p}spairs AS (SELECT rp.id_a, rp.id_b FROM ${p}serawpairs rp
           |  JOIN ${p}semb za ON za.vec_id = rp.id_a
           |  JOIN ${p}semb zb ON zb.vec_id = rp.id_b
           |  WHERE ${cos("za.e", "zb.e")} >= 0.4)""".stripMargin
    }
    val semanticCtes = if (!semantic) "" else
      s"""$semanticPairCtes,
         |${clusterCtes(3, s"${p}sem", s"${p}spairs")},
         |${p}sem_drop AS (SELECT id AS doc_id FROM ${p}seml3 WHERE lbl <> id),
         |${p}sem AS MATERIALIZED (SELECT doc_id, text FROM ${p}dedup
         |  WHERE doc_id NOT IN (SELECT doc_id FROM ${p}sem_drop)),
         |""".stripMargin
    val dsrc = if (semantic) s"${p}sem" else s"${p}dedup"
    val corpusCols = if (cap.isDefined) "doc_id, text, source" else "doc_id, text"
    val goodCte = cap match {
      case None =>
        s"""${p}good AS (SELECT doc_id, text FROM ${p}corpus
           |  WHERE $qualityExprSql > 0.3)""".stripMargin
      case Some(n) =>
        // the domain-balancing stage: best-quality n per source among
        // the quality survivors, the plain-window replay of the salted
        // two-phase cap (x67's oracle contract, inside the pipeline)
        s"""${p}goodq AS (SELECT doc_id, text, source, $qualityExprSql AS q
           |  FROM ${p}corpus WHERE $qualityExprSql > 0.3),
           |${p}good AS (SELECT doc_id, text FROM (
           |  SELECT doc_id, text, ROW_NUMBER() OVER (PARTITION BY source
           |    ORDER BY q DESC, doc_id) AS rn FROM ${p}goodq) t
           |  WHERE rn <= $n)""".stripMargin
    }
    // optional LINE-quality pre-stage (x97 as a pipeline citizen): the
    // corpus entering the pipeline is each doc's re-assembled surviving
    // lines, docs below the 3/4 retention floor dropped entirely
    val corpusCte =
      if (corpusSql.isDefined)
        s"${p}corpus AS MATERIALIZED (${corpusSql.get})"
      else if (!lines)
        s"${p}corpus AS (SELECT $corpusCols FROM documents WHERE $corpusPred)"
      else
        s"""${p}ltoks AS (SELECT doc_id, string_split(text, ' ') AS t
          |  FROM documents WHERE $corpusPred),
          |${p}llines AS (SELECT doc_id, i AS line_no, t[(i*5+1):(i*5+5)] AS lw
          |  FROM ${p}ltoks, LATERAL unnest(
          |    range(0, CAST(ceil(len(t)/5.0) AS BIGINT))) u(i)),
          |${p}lflag AS (SELECT doc_id, line_no, array_to_string(lw, ' ') AS line,
          |    (len(lw) >= 3 AND 5*len(list_distinct(lw)) >= 4*len(lw)
          |      AND 2*len(list_filter(lw, x -> length(x) = 1)) < len(lw)) AS keep
          |  FROM ${p}llines),
          |${p}lagg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
          |    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          |    coalesce(string_agg(CASE WHEN keep THEN line END, ' '
          |      ORDER BY line_no), '') AS clean_text
          |  FROM ${p}lflag GROUP BY doc_id),
          |${p}corpus AS (SELECT doc_id, clean_text AS text FROM ${p}lagg
          |  WHERE n_kept * 4 >= n_lines * 3)""".stripMargin
    s"""WITH $corpusCte,
       |$goodCte,
       |${p}exact AS MATERIALIZED (SELECT g.doc_id, g.text FROM ${p}good g
       |  JOIN (SELECT md5(text) AS h, MIN(doc_id) AS keeper
       |        FROM ${p}good GROUP BY 1) k
       |    ON md5(g.text) = k.h AND g.doc_id = k.keeper),
       |${bandKeyCtes(p, "", s"${p}exact",
           Pipeline.DefaultBands, Pipeline.DefaultRowsPerBand)},
       |${cappedPairCtes(s"${p}stacked", s"${p}rawpairs")},
       |${p}jsets AS MATERIALIZED (SELECT DISTINCT doc_id,
       |    unnest(string_split(text, ' ')) AS tok FROM ${p}exact),
       |${p}jsizes AS (SELECT doc_id, COUNT(*) AS sz FROM ${p}jsets GROUP BY doc_id),
       |${p}jinter AS (SELECT p.id_a, p.id_b, COUNT(*) AS inter FROM ${p}rawpairs p
       |  JOIN ${p}jsets sa ON sa.doc_id = p.id_a
       |  JOIN ${p}jsets sb ON sb.doc_id = p.id_b AND sb.tok = sa.tok
       |  GROUP BY p.id_a, p.id_b),
       |${p}pairs AS MATERIALIZED (SELECT p.id_a, p.id_b FROM ${p}rawpairs p
       |  JOIN ${p}jsizes za ON za.doc_id = p.id_a
       |  JOIN ${p}jsizes zb ON zb.doc_id = p.id_b
       |  LEFT JOIN ${p}jinter i ON i.id_a = p.id_a AND i.id_b = p.id_b
       |  WHERE CAST(COALESCE(i.inter, 0) AS DOUBLE)
       |      / (za.sz + zb.sz - COALESCE(i.inter, 0)) >= 0.5),
       |${clusterCtes(3, p, s"${p}pairs")},
       |${p}near_drop AS (SELECT id AS doc_id FROM ${p}l3 WHERE lbl <> id),
       |${p}dedup AS MATERIALIZED (SELECT doc_id, text FROM ${p}exact
       |  WHERE doc_id NOT IN (SELECT doc_id FROM ${p}near_drop)),
       |${semanticCtes}${p}darr AS (SELECT doc_id, string_split(text, ' ') AS a FROM $dsrc),
       |${p}dsh AS (SELECT doc_id, unnest(CASE WHEN len(a) >= 5
       |    THEN list_transform(range(1, len(a) - 3), i -> array_to_string(a[i:i+4], ' '))
       |    ELSE [array_to_string(a, ' ')] END) AS tok FROM ${p}darr),
       |${p}dkeys AS (SELECT DISTINCT doc_id, md5(tok) AS sk FROM ${p}dsh),
       |${p}evarr AS (SELECT doc_id, string_split(text, ' ') AS a
       |  FROM documents WHERE doc_id % 97 = 0),
       |${p}evsh AS (SELECT doc_id, unnest(CASE WHEN len(a) >= 5
       |    THEN list_transform(range(1, len(a) - 3), i -> array_to_string(a[i:i+4], ' '))
       |    ELSE [array_to_string(a, ' ')] END) AS tok FROM ${p}evarr),
       |${p}evkeys AS (SELECT DISTINCT md5(tok) AS sk FROM ${p}evsh),
       |${p}contam AS (SELECT doc_id FROM ${p}dkeys JOIN ${p}evkeys USING (sk)
       |  GROUP BY doc_id HAVING COUNT(*) > 4),
       |${p}clean AS (SELECT doc_id FROM $dsrc
       |  WHERE doc_id NOT IN (SELECT doc_id FROM ${p}contam))""".stripMargin
  }

  /** The 6-stage curation-pipeline replay (x54), optionally with the
    * SEMANTIC near-dup stage between token near-dup and decontamination
    * (x60): k-means cells over the embeddings of the dedup survivors,
    * same-cell pairs at cosine >= 0.4, min-label clusters, min-id keeper
    * — the exact DuckDB rendering of Pipeline.curateStages(embeddings=…).
    * AS MATERIALIZED pins DuckDB's CTE materialization for the
    * multiply-referenced stages — semantics unchanged, ~10x faster.
    */
  private def curationSql(semantic: Boolean, cap: Option[Int] = None,
      lines: Boolean = false): String =
    s"""${curationCtes(semantic, cap, lines)},
       |ord AS (SELECT doc_id,
       |    row_number() OVER (ORDER BY md5(concat('shuf:', doc_id)), doc_id)
       |      - 1 AS pos
       |  FROM clean)
       |SELECT doc_id, CAST(pos // 64 AS BIGINT) AS shard
       |FROM ord ORDER BY doc_id""".stripMargin

  /** Per-source survival funnel over the same stage CTEs. */
  private def curationFunnelSql: String =
    s"""${curationCtes(semantic = false)}
       |SELECT d.source,
       |  CAST(COUNT(*) AS BIGINT) AS n_input,
       |  CAST(COUNT(g.doc_id) AS BIGINT) AS n_quality,
       |  CAST(COUNT(e.doc_id) AS BIGINT) AS n_exact,
       |  CAST(COUNT(n.doc_id) AS BIGINT) AS n_neardup,
       |  CAST(COUNT(cl.doc_id) AS BIGINT) AS n_clean
       |FROM corpus c
       |JOIN documents d ON d.doc_id = c.doc_id
       |LEFT JOIN (SELECT doc_id FROM good) g ON g.doc_id = c.doc_id
       |LEFT JOIN (SELECT doc_id FROM exact) e ON e.doc_id = c.doc_id
       |LEFT JOIN (SELECT doc_id FROM dedup) n ON n.doc_id = c.doc_id
       |LEFT JOIN (SELECT doc_id FROM clean) cl ON cl.doc_id = c.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** x247: the MODEL-GATED funnel — the x244 classifier train/score
    * replay computes the keep set, which becomes the pipeline corpus via
    * [[curationCtes]]' corpusSql override (nested WITH, isolated CTE
    * scope); the funnel tail counts the RAW corpus as n_input and the
    * override corpus as n_model, then the usual per-stage survivor
    * counts. Exactly Pipeline.curationFunnel(classifierWeights = …). */
  private def modelGatedFunnelSql: String = {
    val keepCorpus =
      s"""WITH mt AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |mb AS (SELECT doc_id, lang,
         |    ${TextAnalysis.hexToIntSql("md5(tok)", 8)} % 32 AS bucket
         |  FROM mt),
         |mw AS (SELECT bucket, COUNT(*) AS n,
         |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np
         |  FROM mb GROUP BY 1),
         |mg AS (SELECT SUM(n) AS gn, SUM(np) AS gnp FROM mw),
         |mwm AS (SELECT bucket,
         |    CAST((2 * np * 1000000 + n) // (2 * n)
         |      - (2 * gnp * 1000000 + gn) // (2 * gn) AS BIGINT) AS wt
         |  FROM mw CROSS JOIN mg),
         |msc AS (SELECT doc_id, CAST(SUM(wt) AS BIGINT) AS s
         |  FROM mb JOIN mwm USING (bucket)
         |  WHERE doc_id % 97 != 0 GROUP BY doc_id)
         |SELECT doc_id, text FROM documents
         |WHERE doc_id % 97 != 0
         |  AND doc_id IN (SELECT doc_id FROM msc WHERE s >= 0)""".stripMargin
    s"""${curationCtes(semantic = false, corpusSql = Some(keepCorpus))}
       |SELECT d.source,
       |  CAST(COUNT(*) AS BIGINT) AS n_input,
       |  CAST(COUNT(m.doc_id) AS BIGINT) AS n_model,
       |  CAST(COUNT(g.doc_id) AS BIGINT) AS n_quality,
       |  CAST(COUNT(e.doc_id) AS BIGINT) AS n_exact,
       |  CAST(COUNT(n.doc_id) AS BIGINT) AS n_neardup,
       |  CAST(COUNT(cl.doc_id) AS BIGINT) AS n_clean
       |FROM documents d
       |LEFT JOIN (SELECT doc_id FROM corpus) m ON m.doc_id = d.doc_id
       |LEFT JOIN (SELECT doc_id FROM good) g ON g.doc_id = d.doc_id
       |LEFT JOIN (SELECT doc_id FROM exact) e ON e.doc_id = d.doc_id
       |LEFT JOIN (SELECT doc_id FROM dedup) n ON n.doc_id = d.doc_id
       |LEFT JOIN (SELECT doc_id FROM clean) cl ON cl.doc_id = d.doc_id
       |WHERE d.doc_id % 97 != 0
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  /** x253: the CALIBRATED model-gated funnel — x247's composition with
    * the gate threshold chosen from the calibrated curve instead of the
    * raw score sign: the x244 train/score replay feeds the x137
    * reliability bins over the pipeline corpus, the x205 PAV-minimax
    * fit picks the smallest bin whose FITTED probability clears 0.5,
    * and the corpus override keeps documents at or above that bin. The
    * chosen bin rides along as `keep_bin` (scalar subselect over the
    * materialized corpus — exact while the gate keeps at least one doc,
    * which the fitted >= 0.5 bin guarantees on any corpus whose top bin
    * is majority-positive). */
  private def calibratedGateFunnelSql: String = {
    val keepCorpus =
      s"""WITH mt AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |mb AS (SELECT doc_id, lang,
         |    ${TextAnalysis.hexToIntSql("md5(tok)", 8)} % 32 AS bucket
         |  FROM mt),
         |mw AS (SELECT bucket, COUNT(*) AS n,
         |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np
         |  FROM mb GROUP BY 1),
         |mg AS (SELECT SUM(n) AS gn, SUM(np) AS gnp FROM mw),
         |mwm AS (SELECT bucket,
         |    CAST((2 * np * 1000000 + n) // (2 * n)
         |      - (2 * gnp * 1000000 + gn) // (2 * gn) AS BIGINT) AS wt
         |  FROM mw CROSS JOIN mg),
         |msc AS (SELECT doc_id, COUNT(*) AS n_tokens,
         |    CAST(SUM(wt) AS BIGINT) AS s
         |  FROM mb JOIN mwm USING (bucket)
         |  WHERE doc_id % 97 != 0 GROUP BY doc_id),
         |mprob AS (SELECT doc_id,
         |    round(1.0 / (1.0 + exp(-(CAST(
         |      (CASE WHEN s < 0 THEN -1 ELSE 1 END)
         |        * ((2 * abs(s) + n_tokens) // (2 * n_tokens))
         |      AS DOUBLE) / 1000000.0))), 6) AS prob FROM msc),
         |mbin AS (SELECT p.doc_id,
         |    LEAST(CAST(floor(p.prob * 10) AS BIGINT),
         |      CAST(9 AS BIGINT)) AS bin,
         |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM mprob p JOIN documents d ON d.doc_id = p.doc_id),
         |mbn AS (SELECT bin, COUNT(*) AS n,
         |    CAST(SUM(pos) AS BIGINT) AS n_pos,
         |    ROW_NUMBER() OVER (ORDER BY bin) AS i
         |  FROM mbin GROUP BY bin),
         |mpre AS (SELECT i, bin, n, n_pos,
         |    CAST(SUM(n) OVER (ORDER BY i) AS BIGINT) AS cn,
         |    CAST(SUM(n_pos) OVER (ORDER BY i) AS BIGINT) AS cp
         |  FROM mbn),
         |mseg AS (SELECT a.i AS j, b.i AS k,
         |    b.cp - a.cp + a.n_pos AS sp, b.cn - a.cn + a.n AS sc
         |  FROM mpre a JOIN mpre b ON a.i <= b.i),
         |minner AS (SELECT s.j, p.i,
         |    MIN(CAST(s.sp AS DOUBLE) / CAST(s.sc AS DOUBLE)) AS mn
         |  FROM mseg s JOIN mpre p ON s.j <= p.i AND p.i <= s.k
         |  GROUP BY 1, 2),
         |mfit AS (SELECT i, MAX(mn) AS f FROM minner GROUP BY i),
         |mkb AS (SELECT COALESCE(MIN(bn.bin), 10) AS kb
         |  FROM mbn bn JOIN mfit USING (i) WHERE round(mfit.f, 6) >= 0.5)
         |SELECT b.doc_id, d2.text, mkb.kb FROM mbin b
         |JOIN documents d2 ON d2.doc_id = b.doc_id
         |CROSS JOIN mkb WHERE b.bin >= mkb.kb""".stripMargin
    s"""${curationCtes(semantic = false, corpusSql = Some(keepCorpus))}
       |SELECT d.source,
       |  CAST(COUNT(*) AS BIGINT) AS n_input,
       |  CAST(COUNT(m.doc_id) AS BIGINT) AS n_model,
       |  CAST(COUNT(g.doc_id) AS BIGINT) AS n_quality,
       |  CAST(COUNT(e.doc_id) AS BIGINT) AS n_exact,
       |  CAST(COUNT(n.doc_id) AS BIGINT) AS n_neardup,
       |  CAST(COUNT(cl.doc_id) AS BIGINT) AS n_clean,
       |  (SELECT CAST(MAX(kb) AS BIGINT) FROM corpus) AS keep_bin
       |FROM documents d
       |LEFT JOIN (SELECT doc_id FROM corpus) m ON m.doc_id = d.doc_id
       |LEFT JOIN (SELECT doc_id FROM good) g ON g.doc_id = d.doc_id
       |LEFT JOIN (SELECT doc_id FROM exact) e ON e.doc_id = d.doc_id
       |LEFT JOIN (SELECT doc_id FROM dedup) n ON n.doc_id = d.doc_id
       |LEFT JOIN (SELECT doc_id FROM clean) cl ON cl.doc_id = d.doc_id
       |WHERE d.doc_id % 97 != 0
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  private def lshBucketSql(nPlanes: Int, dim: Int, embExpr: String,
      planeOffset: Int = 0): String =
    Similarity.planeSigns(planeOffset + nPlanes, dim).drop(planeOffset)
      .zipWithIndex.map { case (plane, p) =>
      // 1L: the Spark side (stackedEmbeddingBandKeys) shifts longs and
      // allows planesPerBand up to 62 — an Int shift here would silently
      // overflow past p = 30 and diverge from the plan it replays
      s"(CASE WHEN list_dot_product($embExpr, ${planeSqlArray(plane)}) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Stacked (doc_id, bid, bk) sign-LSH band keys over a vector CTE —
    * the replay of Similarity.stackedEmbeddingBandKeys: band b buckets
    * with its OWN planesPerBand hyperplanes (plane indices b·r…b·r+r−1),
    * vec_id aliased to doc_id so [[cappedPairCtes]] applies unchanged. */
  private def embBandStackSql(fromCte: String, nBands: Int,
      planesPerBand: Int, dim: Int): String =
    (0 until nBands).map { b =>
      s"""SELECT vec_id AS doc_id, $b AS bid,
         |    ${lshBucketSql(planesPerBand, dim, "e", b * planesPerBand)} AS bk
         |  FROM $fromCte""".stripMargin
    }.mkString("\n  UNION ALL ")

  val defs: Seq[QueryDef] = Seq(

    // ---- x78: Gopher composite rule filter ---------------------------------
    // The published MassiveText web filters as per-rule flags — a pipeline
    // gates on ok_gopher and reports which rule killed each doc. Map-only
    // codegen; thresholds picked to actually split this corpus (word
    // counts run 10-99, so the paper's 50..100k word window is the live
    // rule; mean length / alpha-fraction stay at published values).
    QueryDef(
      "x78_gopher_rules",
      (s, dir) =>
        TextAnalysis.gopherFlags(Tables.documents(s, dir),
            minWords = 20, maxWords = 90)
          .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, CAST(len(a) AS BIGINT) AS n_words,
              |  len(a) >= 20 AND len(a) <= 90 AS ok_words,
              |  CAST(len(text) - len(a) + 1 AS DOUBLE) / len(a) >= 3.0 AND
              |    CAST(len(text) - len(a) + 1 AS DOUBLE) / len(a) <= 10.0
              |    AS ok_mean_len,
              |  CAST(len(list_filter(a, t -> regexp_matches(t, '[A-Za-z]')))
              |    AS DOUBLE) / len(a) >= 0.8 AS ok_alpha,
              |  len(list_filter(a, t -> t IN
              |    ('the','a','of','and','to','in','is','it'))) >= 2
              |    AS ok_stopwords,
              |  (len(a) >= 20 AND len(a) <= 90)
              |    AND (CAST(len(text) - len(a) + 1 AS DOUBLE) / len(a) >= 3.0
              |      AND CAST(len(text) - len(a) + 1 AS DOUBLE) / len(a) <= 10.0)
              |    AND (CAST(len(list_filter(a, t -> regexp_matches(t, '[A-Za-z]')))
              |      AS DOUBLE) / len(a) >= 0.8)
              |    AND (len(list_filter(a, t -> t IN
              |      ('the','a','of','and','to','in','is','it'))) >= 2)
              |    AS ok_gopher
              |FROM (SELECT doc_id, text, string_split(text, ' ') AS a
              |      FROM documents) t ORDER BY doc_id""".stripMargin)),

    // ---- x79: DSIR importance weights (data selection) --------------------
    // Mean log-ratio of target vs corpus hashed-unigram LMs — the
    // importance-resampling selection signal. Target = the % 97 eval-ish
    // slice (x71's convention); corpus = the rest. LM tables: 64 hashed
    // buckets, broadcast; totals: one-row sibling broadcasts.
    QueryDef(
      "x79_dsir_weights",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        TextAnalysis.importanceWeights(
            docs.filter(col("doc_id") % 97 =!= 0),
            docs.filter(col("doc_id") % 97 === 0), buckets = 64)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH cb AS (SELECT doc_id,
              |    (${TextAnalysis.hexToIntSql("h", 8)} % 64) AS b
              |  FROM (SELECT doc_id, md5(tok) AS h FROM
              |    (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              |     FROM documents WHERE doc_id % 97 != 0) u) t),
              |tb AS (SELECT (${TextAnalysis.hexToIntSql("h", 8)} % 64) AS b
              |  FROM (SELECT md5(tok) AS h FROM
              |    (SELECT unnest(string_split(text, ' ')) AS tok
              |     FROM documents WHERE doc_id % 97 = 0) u) t),
              |cc AS (SELECT b, COUNT(*) AS cc FROM cb GROUP BY b),
              |tc AS (SELECT b, COUNT(*) AS tc FROM tb GROUP BY b),
              |cn AS (SELECT COUNT(*) AS cn FROM cb),
              |tn AS (SELECT COUNT(*) AS tn FROM tb),
              |w AS (SELECT cc.b,
              |    ln(((COALESCE(tc.tc, 0) + 1.0) / (tn.tn + 64)) /
              |       ((cc.cc + 1.0) / (cn.cn + 64))) AS w
              |  FROM cc LEFT JOIN tc USING (b) CROSS JOIN cn CROSS JOIN tn)
              |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
              |  round(SUM(w) / COUNT(*), 6) AS dsir_score
              |FROM cb JOIN w USING (b)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- x80: vocabulary coverage (tokenizer sizing) -----------------------
    // Top-k corpus tokens with cumulative token-mass share. The window
    // runs on the k-row top-k result; integer cumsum → order-free.
    QueryDef(
      "x80_vocab_coverage",
      (s, dir) =>
        TextAnalysis.vocabCoverage(Tables.documents(s, dir), k = 20)
          .orderBy(col("rnk")),
      Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |cnt AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
             |tot AS (SELECT COUNT(*) AS corpus_n FROM toks),
             |top AS (SELECT tok, n,
             |    ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rnk
             |  FROM cnt ORDER BY n DESC, tok LIMIT 20)
             |SELECT CAST(rnk AS BIGINT) AS rnk, tok, n,
             |  round(CAST(SUM(n) OVER (ORDER BY rnk) AS DOUBLE) / corpus_n, 6)
             |    AS cum_frac
             |FROM top CROSS JOIN tot ORDER BY rnk""".stripMargin)),

    // ---- x01: exact dedup — hash-groupBy over the full corpus -------------
    QueryDef(
      "x01_dedup_exact",
      (s, dir) =>
        Dedup.exactDupGroups(Tables.documents(s, dir))
          .agg(
            count(lit(1)).as("n_groups"),
            count(when(col("n_docs") > 1, 1)).as("n_dup_groups"),
            sum(col("n_docs")).as("n_docs_total")),
      Some("""SELECT COUNT(*) AS n_groups,
             |  COUNT(*) FILTER (WHERE n_docs > 1) AS n_dup_groups,
             |  CAST(SUM(n_docs) AS BIGINT) AS n_docs_total
             |FROM (SELECT md5(text) AS h, COUNT(*) AS n_docs
             |      FROM documents GROUP BY 1) t""".stripMargin),
      headline = true),

    // ---- x02: token-bag fingerprint dedup (reordered duplicates) ----------
    QueryDef(
      "x02_dedup_fingerprint",
      (s, dir) =>
        Tables.documents(s, dir)
          .groupBy(Dedup.fingerprint(col("text")).as("fp"))
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper_id"))
          .filter(col("n_docs") > 1)
          .orderBy(col("fp")),
      Some("""SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
             |  COUNT(*) AS n_docs, MIN(doc_id) AS keeper_id
             |FROM documents GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY fp""".stripMargin)),

    // ---- x03: MinHash + LSH banding — near-dup candidate pairs ------------
    // 8 salted-md5 minhashes, 2 bands × 4 rows; candidates = band-key join.
    QueryDef(
      "x03_minhash_lsh",
      (s, dir) =>
        Dedup.lshCandidatePairs(Tables.documents(s, dir), bands = 2, rowsPerBand = 4)
          .orderBy(col("id_a"), col("id_b")),
      Some(s"WITH $lshPairsCtes\nSELECT id_a, id_b FROM pairs ORDER BY id_a, id_b"),
      headline = true),

    // ---- x30: near-dup clusters (connected components of the pair graph) -
    // The stage after candidate pairs in a real dedup pipeline: group
    // near-dups into clusters so ONE keeper survives per cluster. Fixed
    // 3-round min-label propagation, replayed round-for-round by the
    // oracle on the same LSH pairs.
    QueryDef(
      "x30_neardup_clusters",
      (s, dir) =>
        Dedup.clusterPairs(
            Dedup.lshCandidatePairs(Tables.documents(s, dir), bands = 2, rowsPerBand = 4),
            rounds = 3)
          .orderBy(col("doc_id")),
      Some(clusterSql(rounds = 3))),

    // ---- x04: n-gram (token-set) Jaccard on candidate pairs ---------------
    QueryDef(
      "x04_jaccard",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = docs.filter(col("doc_id") < 100)
          .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
          .join(docs.select(col("doc_id").as("id_b")), "id_b")
          .select(col("id_a"), col("id_b"))
        Dedup.jaccard(docs, pairs).orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH pairs AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
             |  WHERE a.doc_id < 100),
             |sets AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sets GROUP BY doc_id),
             |inter AS (
             |  SELECT p.id_a, p.id_b, COUNT(*) AS inter FROM pairs p
             |  JOIN sets sa ON sa.doc_id = p.id_a
             |  JOIN sets sb ON sb.doc_id = p.id_b AND sb.tok = sa.tok
             |  GROUP BY p.id_a, p.id_b)
             |SELECT p.id_a, p.id_b, COALESCE(i.inter, 0) AS inter,
             |  CAST(COALESCE(i.inter, 0) AS DOUBLE) / (za.sz + zb.sz - COALESCE(i.inter, 0)) AS jaccard
             |FROM pairs p
             |LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
             |JOIN sizes za ON za.doc_id = p.id_a
             |JOIN sizes zb ON zb.doc_id = p.id_b
             |ORDER BY p.id_a, p.id_b""".stripMargin)),

    // ---- x05: SimHash — 16-bit signatures from shared bit arithmetic ------
    QueryDef(
      "x05_simhash",
      (s, dir) =>
        Dedup.simhash(Tables.documents(s, dir).filter(col("doc_id") < 100), 16)
          .orderBy(col("doc_id")),
      Some(s"WITH ${simhashCtes(16, " WHERE doc_id < 100")}\n" +
        "SELECT doc_id, simhash FROM sig ORDER BY doc_id")),

    // ---- x31: SimHash near-dup pairs via pigeonhole banding ---------------
    // Hamming ≤ 3 over a 32-bit signature with 4 bands of 8 bits: a
    // qualifying pair must share a full band, so candidates come from the
    // (band_id, band_value) equi-join — the Manku-et-al. construction, no
    // all-pairs scan. Exact bit_count(xor) filter afterwards.
    QueryDef(
      "x31_simhash_neardup",
      (s, dir) =>
        Dedup.simhashNearDupPairs(Tables.documents(s, dir),
            nBits = 32, nBands = 4, maxHamming = 3)
          .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH ${simhashCtes(32, "")},
              |stacked AS (SELECT doc_id, simhash, b.bid AS bid,
              |    (simhash >> (b.bid * 8)) & 255 AS bv
              |  FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) b(bid)),
              |${cappedHammingCtes("stacked", "cand", "simhash", "bid", "bv", 3)}
              |SELECT id_a, id_b, hamming FROM cand
              |ORDER BY id_a, id_b""".stripMargin)),

    // ---- x06: per-document text statistics --------------------------------
    QueryDef(
      "x06_text_stats",
      (s, dir) =>
        TextAnalysis.stats(Tables.documents(s, dir).filter(col("doc_id") < 200))
          .select(col("doc_id"), col("n_chars_m").cast("long"),
            col("n_tokens").cast("long"), col("n_distinct").cast("long"),
            col("mean_tok_len"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id, length(text) AS n_chars_m,
             |  len(string_split(text, ' ')) AS n_tokens,
             |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
             |  CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
             |    / len(string_split(text, ' ')) AS mean_tok_len
             |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)),

    // ---- x07: quality scoring --------------------------------------------
    QueryDef(
      "x07_text_quality",
      (s, dir) =>
        TextAnalysis.quality(Tables.documents(s, dir).filter(col("doc_id") < 200))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             |    / len(string_split(text, ' ')) AS ttr,
             |  CAST(len(list_filter(string_split(text, ' '), t -> length(t) = 1)) AS DOUBLE)
             |    / len(string_split(text, ' ')) AS short_ratio,
             |  (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             |    / len(string_split(text, ' ')))
             |  * (1.0 - CAST(len(list_filter(string_split(text, ' '), t -> length(t) = 1)) AS DOUBLE)
             |    / len(string_split(text, ' '))) AS quality
             |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)),

    // ---- x08: heuristic language id + confusion vs labeled lang -----------
    QueryDef(
      "x08_langid",
      (s, dir) =>
        TextAnalysis.langId(Tables.documents(s, dir), keep = Seq("lang"))
          .groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("pred_lang")),
      Some(
        s"""WITH scored AS (SELECT doc_id, lang, $langScoresSql FROM documents)
           |SELECT lang, $langPredSql AS pred_lang, COUNT(*) AS n
           |FROM scored GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin)),

    // ---- x09: rolling polynomial document fingerprint ---------------------
    QueryDef(
      "x09_fingerprint_rolling",
      (s, dir) =>
        Tables.documents(s, dir).filter(col("doc_id") < 100)
          .select(col("doc_id"), TextAnalysis.rollingFingerprint("text").as("fp"))
          .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
              |  list_reduce(
              |    list_prepend(CAST(0 AS BIGINT),
              |      list_transform(string_split(text, ' '), t -> $hashSql)),
              |    (a, b) -> (a * 31 + b) % $M) AS fp
              |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin)),

    // ---- x10: brute-force cosine top-k (exact ANN baseline) ---------------
    QueryDef(
      "x10_knn_bruteforce",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 3)
          .withColumn("rk", col("rk").cast("long"))
          .orderBy(col("query_id"), col("rk"))
      },
      Some("""WITH sims AS (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
             |      / sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
             |           * list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])), 6) AS sim
             |  FROM embeddings q CROSS JOIN embeddings c
             |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
             |ranked AS (SELECT query_id, neighbor_id, sim,
             |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
             |  FROM sims)
             |SELECT query_id, rk, neighbor_id, sim FROM ranked
             |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin),
      headline = true),

    // ---- x11: sign-LSH bucket assignment (the ANN scale path) -------------
    QueryDef(
      "x11_ann_lsh_buckets",
      (s, dir) =>
        Tables.embeddings(s, dir).filter(col("vec_id") < 100)
          .select(col("vec_id"),
            Similarity.lshBucket(col("embedding").cast("array<double>"), 8, 64).as("bucket"))
          .orderBy(col("vec_id")),
      Some(s"""SELECT vec_id, ${lshBucketSql(8, 64, "embedding::DOUBLE[]")} AS bucket
              |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""".stripMargin)),

    // ---- x12: embedding near-dup pairs via LSH buckets + exact check ------
    // The synthetic embeddings hold no natural >= 0.5-cosine pair at the
    // oracle SF, which made this oracle entry vacuous (0 rows on both
    // engines — round-16 verdict Next #6). Two PLANTED duplicates
    // (vec 1 and 2 re-emitted under +10^8 ids) guarantee same-bucket
    // collisions at sim 1.0, so the oracle now checks the whole pair
    // machinery — bucket equi-join, exact round-6 cosine verify,
    // threshold — on a non-empty result.
    QueryDef(
      "x12_embedding_neardup",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding"))
        val planted = emb.unionByName(
          emb.filter(col("vec_id").isin(1L, 2L))
            .select((col("vec_id") + lit(100000000L)).as("vec_id"),
              col("embedding")))
        Similarity.lshNearDupPairs(planted, 12, 64, 0.5)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH pe AS (SELECT vec_id, embedding FROM embeddings
              |  UNION ALL SELECT vec_id + 100000000, embedding
              |  FROM embeddings WHERE vec_id IN (1, 2)),
              |b AS (SELECT vec_id, embedding::DOUBLE[] AS e,
              |  ${lshBucketSql(12, 64, "embedding::DOUBLE[]")} AS bucket FROM pe)
              |SELECT a.vec_id AS id_a, c.vec_id AS id_b,
              |  round(list_dot_product(a.e, c.e)
              |    / sqrt(list_dot_product(a.e, a.e) * list_dot_product(c.e, c.e)), 6) AS sim
              |FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
              |WHERE round(list_dot_product(a.e, c.e)
              |    / sqrt(list_dot_product(a.e, a.e) * list_dot_product(c.e, c.e)), 6) >= 0.5
              |ORDER BY id_a, id_b""".stripMargin)),

    // ---- x17: IVF cell assignment (the other ANN scale path) --------------
    QueryDef(
      "x17_ivf_assign",
      (s, dir) =>
        Similarity.ivfAssign(Tables.embeddings(s, dir), nCells = 8)
          .orderBy(col("vec_id")),
      Some("""WITH cent AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS ce
             |  FROM embeddings ORDER BY vec_id LIMIT 8),
             |sims AS (SELECT e.vec_id, c.cent_id,
             |  round(list_dot_product(e.embedding::DOUBLE[], c.ce)
             |    / sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
             |         * list_dot_product(c.ce, c.ce)), 6) AS sim
             |  FROM embeddings e CROSS JOIN cent c)
             |SELECT vec_id, cent_id AS cell FROM (
             |  SELECT vec_id, cent_id,
             |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cent_id ASC) AS rn
             |  FROM sims) t
             |WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    // ---- x18: IVF top-k with nprobe=2 -------------------------------------
    QueryDef(
      "x18_ivf_topk",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb,
          k = 3, nCells = 8, nprobe = 2)
          .orderBy(col("query_id"), col("rk"))
      },
      Some("""WITH cent AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS ce
             |  FROM embeddings ORDER BY vec_id LIMIT 8),
             |cells AS (SELECT vec_id, cent_id AS cell FROM (
             |  SELECT e.vec_id, c.cent_id,
             |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             |      round(list_dot_product(e.embedding::DOUBLE[], c.ce)
             |        / sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
             |             * list_dot_product(c.ce, c.ce)), 6) DESC, c.cent_id ASC) AS rn
             |  FROM embeddings e CROSS JOIN cent c) t WHERE rn = 1),
             |probes AS (SELECT query_id, cell FROM (
             |  SELECT q.vec_id AS query_id, c.cent_id AS cell,
             |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             |      round(list_dot_product(q.embedding::DOUBLE[], c.ce)
             |        / sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
             |             * list_dot_product(c.ce, c.ce)), 6) DESC, c.cent_id ASC) AS pr
             |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10) t WHERE pr <= 2),
             |scored AS (
             |  SELECT p.query_id, e.vec_id AS neighbor_id,
             |    round(list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
             |      / sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
             |           * list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 6) AS sim
             |  FROM probes p
             |  JOIN cells cl ON cl.cell = p.cell
             |  JOIN embeddings e ON e.vec_id = cl.vec_id
             |  JOIN embeddings q ON q.vec_id = p.query_id
             |  WHERE p.query_id <> e.vec_id)
             |SELECT query_id, rk, neighbor_id, sim FROM (
             |  SELECT query_id, neighbor_id, sim,
             |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
             |  FROM scored) t
             |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin)),

    // ---- x28: k-means-trained IVF quantizer (Lloyd's, oracle-replayed) ----
    // Real trained centroids for the IVF path (x17/x18 use the documented
    // first-N stand-in). Fixed-point centroid updates (floor(x·10^6) BIGINT
    // sums) make every Lloyd iteration bit-identical across engines — the
    // oracle replays init → 2 iterations → final assignment exactly.
    QueryDef(
      "x28_kmeans_ivf",
      (s, dir) =>
        Similarity.ivfAssignKmeans(Tables.embeddings(s, dir), nCells = 8, iters = 2)
          .orderBy(col("vec_id")),
      Some(kmeansSql(nCells = 8, iters = 2))),

    // ---- x195: simplified silhouette (clustering-quality gate) -------------
    // Centroid-based silhouette for the x28 k-means cells: per vector
    // (s1 - s2)/(1 - s2) from the round-6 top-2 centroid sims,
    // round-12 DECIMAL-summed per cell — see
    // functions/Similarity.silhouette.
    QueryDef(
      "x195_silhouette",
      (s, dir) =>
        Similarity.silhouette(Tables.embeddings(s, dir), nCells = 8,
          iters = 2)
          .orderBy(col("cell")),
      Some(kmeansSql(nCells = 8, iters = 2, finalSelect =
        """SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
          |  CAST(COUNT(s) AS BIGINT) AS n_scored,
          |  CAST(SUM(CAST(round(s, 12) AS DECIMAL(28,12))) AS DOUBLE)
          |    / COUNT(s) AS mean_silhouette
          |FROM (
          |  SELECT vec_id, cell,
          |    CASE WHEN 1.0 - s2 > 0 THEN (s1 - s2) / (1.0 - s2) END
          |      AS s
          |  FROM (
          |    SELECT vec_id,
          |      MAX(CASE WHEN rn = 1 THEN cent END) AS cell,
          |      MAX(CASE WHEN rn = 1 THEN sim END) AS s1,
          |      MAX(CASE WHEN rn = 2 THEN sim END) AS s2
          |    FROM (
          |      SELECT v.vec_id, c.cent_id AS cent,
          |        round(list_dot_product(v.e, c.ce)
          |          / sqrt(list_dot_product(v.e, v.e)
          |            * list_dot_product(c.ce, c.ce)), 6) AS sim,
          |        ROW_NUMBER() OVER (PARTITION BY v.vec_id
          |          ORDER BY round(list_dot_product(v.e, c.ce)
          |            / sqrt(list_dot_product(v.e, v.e)
          |              * list_dot_product(c.ce, c.ce)), 6) DESC,
          |            c.cent_id ASC) AS rn
          |      FROM v CROSS JOIN c2 c) t WHERE rn <= 2
          |    GROUP BY vec_id))
          |GROUP BY cell ORDER BY cell""".stripMargin))),

    // ---- x198: fuzzy-match entity clusters ---------------------------------
    // Composition: x182's Ed-Join fuzzy pairs over the 40-char document
    // prefix feed the min-label propagation (Dedup.clusterPairs) — the
    // entity-resolution end state: one cluster id per near-identical
    // prefix family, reported as cluster sizes.
    QueryDef(
      "x198_fuzzy_clusters",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), substring(col("text"), 1, 40).as("k"))
        val pairs = graft.ops.Dedup
          .fuzzyJoin(docs, "doc_id", "k", q = 5, maxDist = 2)
          .select(col("id1").as("id_a"), col("id2").as("id_b"))
        graft.ops.Dedup.clusterPairs(pairs, rounds = 3)
          .groupBy(col("cluster")).agg(count(lit(1)).as("n_docs"))
          .orderBy(col("cluster"))
      },
      Some(s"""WITH fs AS (SELECT doc_id AS id,
            |    substring(text, 1, 40) AS nm
            |  FROM documents WHERE text IS NOT NULL
            |    AND length(text) >= 5),
            |fg AS (SELECT DISTINCT id, nm,
            |    substring(nm, CAST(i AS INT), 5) AS gram
            |  FROM (SELECT id, nm,
            |      unnest(generate_series(1, length(nm) - 4)) AS i
            |    FROM fs)),
            |fdf AS (SELECT gram, COUNT(*) AS df FROM fg GROUP BY 1),
            |fgn AS (SELECT id FROM fg GROUP BY id
            |  HAVING COUNT(*) > 10),
            |frk AS (SELECT id, nm, gram, ROW_NUMBER() OVER (
            |    PARTITION BY id ORDER BY df, gram) AS rn
            |  FROM fg JOIN fdf USING (gram) JOIN fgn USING (id)),
            |fpre AS (SELECT id, nm, gram FROM frk WHERE rn <= 11),
            |fcand AS (SELECT DISTINCT a.id AS id_a, a.nm AS n1,
            |    b.id AS id_b, b.nm AS n2
            |  FROM fpre a JOIN fpre b
            |    ON a.gram = b.gram AND a.id < b.id
            |  WHERE abs(length(a.nm) - length(b.nm)) <= 2),
            |fpairs AS (SELECT id_a, id_b FROM fcand
            |  WHERE levenshtein(n1, n2) <= 2),
            |${clusterCtes(3, "f", "fpairs")}
            |SELECT lbl AS cluster, CAST(COUNT(*) AS BIGINT) AS n_docs
            |FROM fl3 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- x29: mergeable bounded top-k aggregate ---------------------------
    // Custom Aggregator whose O(k) buffer merges map-side — per-group
    // top-k at any group size without materializing the group (contrast
    // q40's mapGroups iteration and q26's window: same answer, three
    // engines surfaces). Exact, so fully oracle-checked.
    QueryDef(
      "x29_topk_agg",
      (s, dir) =>
        Tables.orders(s, dir)
          .groupBy(col("o_orderpriority"))
          .agg(graft.functions.Aggregators.topK(3)(col("o_totalprice")).as("top"))
          .select(col("o_orderpriority"), posexplode(col("top")))
          .toDF("o_orderpriority", "rk", "price")
          .select(col("o_orderpriority"), (col("rk") + 1).cast("long").as("rk"),
            col("price"))
          .orderBy(col("o_orderpriority"), col("rk")),
      Some("""SELECT o_orderpriority, CAST(rn AS BIGINT) AS rk, o_totalprice AS price
             |FROM (SELECT o_orderpriority, o_totalprice,
             |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice DESC) AS rn
             |  FROM orders) t
             |WHERE rn <= 3 ORDER BY o_orderpriority, rk""".stripMargin)),

    // ---- x19: salted two-phase aggregation (skew path, result-identical) --
    QueryDef(
      "x19_salted_agg",
      (s, dir) =>
        graft.ops.Skew.saltedCount(
            Tables.lineitem(s, dir), Seq("l_returnflag"), saltBuckets = 16)
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, COUNT(*) AS n FROM lineitem
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- x20: salted join (skew path, result-identical) -------------------
    QueryDef(
      "x20_salted_join",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_quantity"))
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
        graft.ops.Skew.saltedJoin(li, o, "l_orderkey", saltBuckets = 8)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ---- x37: bucketed co-located join (the 100 TB fact-join strategy) ----
    // Both sides persisted bucketed+sorted on the join key → SortMergeJoin
    // with NO shuffle exchange (ExtensionSpec asserts the plan); results
    // identical to the plain join, which is what the oracle replays.
    QueryDef(
      "x37_bucketed_join",
      (s, dir) => {
        val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_quantity"))
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
        // table names carry the JVM id: the warehouse dir is shared
        // on-disk state, and two CONCURRENT Verify processes otherwise
        // overwrite each other's bucket files mid-read (observed as
        // FILE_NOT_EXIST in the round-13 double-sweep; PLANS.md)
        val run = java.lang.management.ManagementFactory
          .getRuntimeMXBean.getName.replaceAll("[^0-9a-zA-Z]", "_")
        graft.ops.Bucketing.saveBucketed(li, s"graft_li_bq_$run", "l_orderkey", 8)
        graft.ops.Bucketing.saveBucketed(o, s"graft_o_bq_$run", "l_orderkey", 8)
        graft.ops.Bucketing.bucketedJoin(s, s"graft_li_bq_$run",
          s"graft_o_bq_$run", "l_orderkey")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(dec(col("l_quantity"))).cast(DoubleType).as("qty"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ---- x13: tumbling event-time windows ---------------------------------
    QueryDef(
      "x13_window_tumbling",
      (s, dir) =>
        EventWindows.tumbling(Tables.events(s, dir), 600)
          .orderBy(col("win_start"), col("event_type")),
      // ((sec % w) + w) % w = floor-aligned offset — matches the Spark
      // side's pmod for negative (pre-epoch) seconds too
      Some("""SELECT sec - (((sec % 600) + 600) % 600) AS win_start,
             |  event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM (SELECT epoch_ns(ts)//1000000000 AS sec, event_type, value FROM events) e
             |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin),
      headline = true),

    // ---- x14: sliding windows (width 600s, slide 300s) --------------------
    QueryDef(
      "x14_window_sliding",
      (s, dir) =>
        EventWindows.sliding(Tables.events(s, dir), 600, 300)
          .orderBy(col("win_start"), col("event_type")),
      Some("""WITH e AS (SELECT epoch_ns(ts)//1000000000 AS sec, event_type FROM events),
             |w AS (SELECT sec - (((sec % 300) + 300) % 300) - o.off AS win_start, event_type
             |      FROM e CROSS JOIN (VALUES (0), (300)) o(off))
             |SELECT win_start, event_type, COUNT(*) AS n
             |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin)),

    // ---- x15: session windows (30-minute gap) -----------------------------
    QueryDef(
      "x15_window_session",
      (s, dir) =>
        EventWindows.sessions(Tables.events(s, dir), 1800)
          .orderBy(col("user_id"), col("session_id")),
      Some("""WITH e AS (SELECT user_id, event_id,
             |    epoch_ns(ts)//1000000000 AS sec, epoch_ns(ts) AS ns FROM events),
             |m AS (SELECT *, CASE
             |    WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY ns, event_id) > 1800 THEN 1
             |    WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY ns, event_id) IS NULL THEN 1
             |    ELSE 0 END AS new_sess
             |  FROM e),
             |s AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ns, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM m)
             |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             |  COUNT(*) AS n_events, MIN(sec) AS sess_start,
             |  MAX(sec) - MIN(sec) AS duration_s
             |FROM s GROUP BY user_id, session_id
             |ORDER BY user_id, session_id""".stripMargin)),

    // ---- x21: deterministic weighted sample (reproducible subsampling) ----
    QueryDef(
      "x21_weighted_sample",
      (s, dir) =>
        graft.MDFrame(Tables.orders(s, dir)
            .select(col("o_orderkey"), col("o_totalprice")))
          .sampleWeightedDeterministic(50, "o_totalprice", "o_orderkey")
          .ds.orderBy(col("o_orderkey")),
      Some(s"""SELECT o_orderkey, o_totalprice FROM (
              |  SELECT o_orderkey, o_totalprice,
              |    round(-ln((${TextAnalysis.hexToIntSql("md5(concat('ws:', o_orderkey))", 12)} + 1)
              |      / 281474976710657.0) / o_totalprice, 9) AS wk
              |  FROM orders
              |  ORDER BY wk, o_orderkey LIMIT 50) t
              |ORDER BY o_orderkey""".stripMargin)),

    // ---- x22: TF-IDF top terms per document -------------------------------
    QueryDef(
      "x22_tfidf",
      (s, dir) =>
        TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), topK = 3)
          .filter(col("doc_id") < 100)
          .orderBy(col("doc_id"), col("rk")),
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
             |dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS dfreq FROM toks GROUP BY tok),
             |n AS (SELECT COUNT(*) AS n_total FROM documents),
             |scored AS (SELECT doc_id, t.tok, round(tf * ln(n_total / dfreq), 6) AS tfidf
             |  FROM tf t JOIN dfreq d ON d.tok = t.tok CROSS JOIN n),
             |ranked AS (SELECT doc_id, tok, tfidf,
             |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rk
             |  FROM scored)
             |SELECT doc_id, rk, tok, tfidf FROM ranked
             |WHERE rk <= 3 AND doc_id < 100 ORDER BY doc_id, rk""".stripMargin)),

    // ---- x23: exact percentiles (corpus quality statistics) ---------------
    QueryDef(
      "x23_percentiles",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(
            expr("percentile(l_quantity, 0.5)").as("median_qty"),
            expr("percentile(l_quantity, array(0.25, 0.75))").getItem(0).as("q25"),
            expr("percentile(l_quantity, array(0.25, 0.75))").getItem(1).as("q75"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.5) AS median_qty,
             |  quantile_cont(l_quantity, 0.25) AS q25,
             |  quantile_cont(l_quantity, 0.75) AS q75
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- x27: sketch aggregates — the 100 TB statistics path --------------
    // Exact per-group percentiles/count-distinct hold state proportional to
    // the group; the sketch forms (GK approx_percentile, HLL++
    // approx_count_distinct) are bounded-memory mergeable summaries. The
    // oracle replays the EXACT columns bitwise and pins the sketches inside
    // a tolerance band (a cross-engine oracle cannot replay sketch
    // internals; the band is 5σ wide at rsd=0.01, deterministic for a
    // fixed dataset).
    QueryDef(
      "x27_approx_stats",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(
            expr("percentile(l_quantity, 0.5)").as("exact_median"),
            expr("approx_percentile(l_quantity, 0.5, 1000)").as("_am"),
            count_distinct(col("l_partkey")).as("nd_exact"),
            approx_count_distinct(col("l_partkey"), 0.01).as("_acd"))
          .select(col("l_returnflag"), col("exact_median"), col("nd_exact"),
            (abs(col("_am").cast("double") - col("exact_median")) <= lit(1.0))
              .as("approx_median_ok"),
            (abs(col("_acd") - col("nd_exact")).cast("double") / col("nd_exact") <= lit(0.05))
              .as("approx_distinct_ok"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.5) AS exact_median,
             |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_exact,
             |  TRUE AS approx_median_ok, TRUE AS approx_distinct_ok
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- x36: per-group z-score normalization (feature engineering) -------
    // Group moments computed as DECIMAL sums (exact, order-independent),
    // z derived in ONE double expression shared verbatim with the oracle.
    // Two passes over the fact (moments + join-back) — the distributed
    // shape of any per-group feature normalizer.
    QueryDef(
      "x36_group_normalize",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val st = li.groupBy(col("l_returnflag")).agg(
          sum(dec(col("l_quantity"))).cast(DoubleType).as("s"),
          sum(dec(col("l_quantity")) * dec(col("l_quantity"))).cast(DoubleType).as("s2"),
          count(lit(1)).as("n"))
        li.filter(col("l_suppkey") <= 5)
          .join(broadcast(st), "l_returnflag")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            round((col("l_quantity") - col("s") / col("n")) /
              sqrt(col("s2") / col("n") - (col("s") / col("n")) * (col("s") / col("n"))), 6)
              .as("z"))
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("z"))
      },
      Some("""WITH st AS (SELECT l_returnflag,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s2,
             |    COUNT(*) AS n
             |  FROM lineitem GROUP BY 1)
             |SELECT l_orderkey, l_linenumber, l.l_returnflag,
             |  round((l_quantity - s/n) / sqrt(s2/n - (s/n)*(s/n)), 6) AS z
             |FROM lineitem l JOIN st USING (l_returnflag)
             |WHERE l_suppkey <= 5
             |ORDER BY l_orderkey, l_linenumber, z""".stripMargin)),

    // ---- x24: value histogram (integer bucket arithmetic) -----------------
    QueryDef(
      "x24_histogram",
      (s, dir) =>
        Tables.events(s, dir)
          .withColumn("bucket", (floor(col("value") / 10) * 10).cast("long"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
          .orderBy(col("bucket")),
      Some("""SELECT CAST(floor(value / 10) * 10 AS BIGINT) AS bucket,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
             |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ---- x39: unigram log-probability scoring (LM-fluency filter) ---------
    QueryDef(
      "x39_unigram_logprob",
      (s, dir) =>
        TextAnalysis.unigramLogProb(Tables.documents(s, dir))
          .filter(col("doc_id") < 200)
          .orderBy(col("doc_id")),
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |freq AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
             |total AS (SELECT COUNT(*) AS corpus_n FROM toks)
             |SELECT doc_id,
             |  round(SUM(ln(CAST(tf AS DOUBLE) / corpus_n)) / COUNT(*), 6) AS logprob
             |FROM toks JOIN freq USING (tok) CROSS JOIN total
             |WHERE doc_id < 200
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- x25: BPE-ish token counting --------------------------------------
    QueryDef(
      "x25_token_count",
      (s, dir) =>
        Tables.documents(s, dir).filter(col("doc_id") < 200)
          .select(col("doc_id"),
            TextAnalysis.bpeishCount("text").cast("long").as("n_bpeish"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpeish
             |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)),

    // ---- x26: backward as-of join (composed operator Spark lacks) ---------
    // For each click, the user's most recent purchase at or before it;
    // checked against DuckDB's native ASOF JOIN.
    QueryDef(
      "x26_asof_join",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts_ns"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_ns").as("pts_ns"), col("value").as("pval"))
        graft.ops.AsOfJoin.backward(clicks, purchases, "user_id",
            "ts_ns", "pts_ns", Seq("pts_ns", "pval"))
          .filter(col("asof_pts_ns").isNotNull)
          .select(col("event_id"), col("user_id"),
            expr(EventWindows.floorDivSql("ts_ns", 1000000000L)).as("ts_sec"),
            expr(EventWindows.floorDivSql("asof_pts_ns", 1000000000L)).as("pts_sec"),
            col("asof_pval").as("pval"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT e.event_id, e.user_id,
             |  epoch_ns(e.ts)//1000000000 AS ts_sec,
             |  epoch_ns(p.ts)//1000000000 AS pts_sec,
             |  p.value AS pval
             |FROM (SELECT * FROM events WHERE event_type = 'click') e
             |ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
             |  ON e.user_id = p.user_id AND e.ts >= p.ts
             |ORDER BY e.event_id""".stripMargin)),

    // ---- x32: frame sampling over REAL video containers (stride 2) --------
    // Each doc becomes a spec-valid MP4 synthesized ON THE EXECUTORS at
    // 24 fps (timescale=24): for constant-frame-rate video the mvhd
    // duration in timescale units IS the frame count, so n_frames comes
    // from a real ISO-BMFF parse, not a fabricated formula. The oracle
    // replays the synthesis arithmetic (duration = 24·(1 + id%5) frames)
    // and the stride.
    QueryDef(
      "x32_frame_sample",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).filter(col("doc_id") < 200)
          .select(col("doc_id")).as[Long]
          .map(id => graft.ops.MediaDoc(id, "media/video",
            Multimodal.synthMp4(24, 24L * (1 + id % 5))))
        val frames = Multimodal.extractVideoFeatures(media).toDF()
          .select(col("doc_id"), col("duration").cast("int").as("n_frames"))
        Multimodal.sampleFrames(frames, stride = 2)
          .orderBy(col("doc_id"), col("frame_idx"))
      },
      Some("""SELECT doc_id,
             |  unnest(range(0, 24 * (1 + doc_id % 5), 2)) AS frame_idx
             |FROM documents WHERE doc_id < 200 ORDER BY doc_id, frame_idx""".stripMargin)),

    // ---- x33: deterministic train/val/test split --------------------------
    // Hash-thresholded assignment: reproducible anywhere, stable under
    // appends (new rows never reassign old ones). Thresholds are computed
    // once in Scala; Spark and the oracle embed identical literals.
    QueryDef(
      "x33_dataset_split",
      (s, dir) =>
        graft.ops.Splits.assignSplit(Tables.documents(s, dir), "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .groupBy(col("split"), col("lang"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("split"), col("lang")),
      Some(s"""SELECT ${graft.ops.Splits.assignSplitSql("doc_id",
                 Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))} AS split,
              |  lang, COUNT(*) AS n
              |FROM documents GROUP BY 1, 2 ORDER BY split, lang""".stripMargin)),

    // ---- x38: stratified sample — n per stratum, hash-deterministic -------
    // Balanced per-language subsampling for training mixes; the oracle
    // replays the identical hash order.
    QueryDef(
      "x38_stratified_sample",
      (s, dir) =>
        graft.ops.Splits.stratifiedSampleN(
            Tables.documents(s, dir), "lang", "doc_id", n = 20)
          .select(col("lang"), col("doc_id"))
          .orderBy(col("lang"), col("doc_id")),
      Some(s"""SELECT lang, doc_id FROM (
              |  SELECT lang, doc_id, ROW_NUMBER() OVER (PARTITION BY lang
              |    ORDER BY ${graft.ops.Splits.hashSql("doc_id", "strat")}, doc_id) AS rn
              |  FROM documents) t
              |WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin)),

    // ---- x34: point-in-interval range join (bucketized) -------------------
    // No equi-key exists, so a naive BETWEEN join plans as a nested loop;
    // RangeJoin buckets the time axis and equi-joins on bucket id before
    // the exact containment filter. Orders falling inside the 14-day
    // windows of the 5 largest orders; DuckDB replays the plain theta
    // join — identical result, different (scale-safe) dataflow.
    QueryDef(
      "x34_range_join",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        def pday = expr("unix_timestamp(o_orderdate) div 86400")
        val points = o.select(col("o_orderkey"), pday.as("pday"))
        val ivals = o.orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(5)
          .select(col("o_orderkey").as("win_id"), pday.as("lo"), (pday + 13).as("hi"))
        graft.ops.RangeJoin.pointInInterval(points, "pday", ivals, "lo", "hi", 14L)
          .groupBy(col("win_id")).agg(count(lit(1)).as("n_orders"))
          .orderBy(col("win_id"))
      },
      Some("""WITH pts AS (SELECT o_orderkey,
             |    CAST(epoch(o_orderdate) AS BIGINT)//86400 AS pday FROM orders),
             |w AS (SELECT o_orderkey AS win_id, pday AS lo, pday + 13 AS hi FROM (
             |    SELECT o_orderkey, CAST(epoch(o_orderdate) AS BIGINT)//86400 AS pday
             |    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 5) t)
             |SELECT win_id, COUNT(*) AS n_orders
             |FROM pts p JOIN w ON p.pday BETWEEN w.lo AND w.hi
             |GROUP BY win_id ORDER BY win_id""".stripMargin)),

    // ---- x35: the end-to-end corpus-cleaning pipeline ---------------------
    // What a training-data run actually executes, composed from the
    // engine's own stages: quality scoring → language id → exact-dup
    // keeper (md5 min) → near-dup cluster keeper (LSH pairs + label
    // propagation) → quality filter → per-language corpus stats. Every
    // stage is the SAME operator the standalone x-queries check; the
    // oracle replays the whole composition (min/max are order-independent
    // aggregates, so the stats are bitwise-stable).
    QueryDef(
      "x35_clean_corpus",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val nearDrop = Dedup.clusterPairs(
            Dedup.lshCandidatePairs(docs, bands = 2, rowsPerBand = 4), rounds = 3)
          .filter(col("cluster") =!= col("doc_id"))
          .select(col("doc_id"))
        // round-19 optimization: quality and lang-id are pure per-row
        // expressions (same operators, map-only forms — langId's `keep`
        // passthrough + qualityExpr), so their two doc_id corpus
        // self-joins collapse into the scan itself. The exact keeper
        // stays groupBy+join: it broadcasts at bench SF and degrades to
        // an SMJ at scale (a window keeper was A/B'd and reverted —
        // see Pipeline.backbone). Identical rows: the same score/keeper
        // expressions gate the same documents.
        val exactKeep = docs.groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("keeper"))
        TextAnalysis.langId(docs, keep = Seq("lang", "text"))
          .select(col("doc_id"), col("lang"), col("text"), col("pred_lang"))
          .withColumn("quality", TextAnalysis.qualityExpr(col("text")))
          .withColumn("h", md5(col("text")))
          .join(exactKeep, "h")
          .filter(col("doc_id") === col("keeper"))
          .join(nearDrop, Seq("doc_id"), "left_anti")
          .filter(col("quality") > 0.3)
          .groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n_docs"),
            round(min(col("quality")), 6).as("min_q"),
            round(max(col("quality")), 6).as("max_q"))
          .orderBy(col("lang"), col("pred_lang"))
      },
      Some(s"""WITH $lshPairsCtes,
              |${clusterCtes(3)},
              |near_drop AS (SELECT id AS doc_id FROM l3 WHERE lbl <> id),
              |q AS (SELECT doc_id, $qualityExprSql AS quality FROM documents),
              |lp AS (SELECT doc_id, $langPredSql AS pred_lang FROM
              |  (SELECT doc_id, $langScoresSql FROM documents) scored),
              |keep AS (SELECT d.doc_id, d.lang FROM documents d
              |  JOIN (SELECT md5(text) AS h, MIN(doc_id) AS keeper
              |        FROM documents GROUP BY 1) k
              |    ON md5(d.text) = k.h AND d.doc_id = k.keeper)
              |SELECT lang, pred_lang, COUNT(*) AS n_docs,
              |  round(MIN(quality), 6) AS min_q, round(MAX(quality), 6) AS max_q
              |FROM keep
              |JOIN q USING (doc_id) JOIN lp USING (doc_id)
              |WHERE quality > 0.3
              |  AND doc_id NOT IN (SELECT doc_id FROM near_drop)
              |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin)),

    // ---- x16: multimodal binary plumbing (real decode or NULL dims) -------
    // A mixed-media batch: even ids carry spec-valid BMPs synthesized on
    // the executors (real container parse → real dimensions), odd ids
    // carry raw text bytes — NOT a decodable container, so the decoded
    // dimensions are NULL (never fabricated; round-5 verdict #6). The
    // byte-level features stay exact for both. first_byte/height derive
    // from the first UTF-8 *byte*, which no portable SQL expression
    // reproduces for non-ASCII text — kept in the library/spec, excluded
    // from the oracle-checked projection.
    QueryDef(
      "x16_multimodal_features",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).filter(col("doc_id") < 200)
          .select(col("doc_id"), col("source"), col("text"))
          .as[(Long, String, String)]
          .map { case (id, source, text) =>
            if (id % 2 == 0)
              graft.ops.MediaDoc(id, "media/image",
                Multimodal.synthBmp((16 + id % 16).toInt, (8 + id % 8).toInt))
            else graft.ops.MediaDoc(id, "media/" + source, text.getBytes("UTF-8"))
          }
        Multimodal.extractFeatures(media).toDF()
          .select(col("doc_id"), col("media_type"), col("n_bytes"),
            col("width"), col("n_frames"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'media/image'
             |       ELSE 'media/' || source END AS media_type,
             |  CASE WHEN doc_id % 2 = 0
             |    THEN CAST(54 + (((16 + doc_id % 16) * 3 + 3) // 4) * 4
             |      * (8 + doc_id % 8) AS INTEGER)
             |    ELSE CAST(octet_length(encode(text)) AS INTEGER) END AS n_bytes,
             |  CASE WHEN doc_id % 2 = 0
             |    THEN CAST(16 + doc_id % 16 AS INTEGER) ELSE NULL END AS width,
             |  CASE WHEN doc_id % 2 = 0
             |    THEN CAST(1 AS INTEGER) ELSE NULL END AS n_frames
             |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)),

    // ---- x40: batch corpus merge (daily-crawl ingest) ---------------------
    // The flagship ingest step: new docs enter the corpus only if neither
    // exact (md5) nor near (shared LSH band) duplicates of it. All hash
    // equi-joins — the oracle replays the same two-stage rejection: the
    // corpus band-key set is the `%5 != 0` half's stacked keys, the new
    // half's keys come from the same CTE shape with the complementary
    // filter.
    QueryDef(
      "x40_corpus_merge",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val corpus = docs.filter(col("doc_id") % 5 =!= 0)
        val incoming = docs.filter(col("doc_id") % 5 === 0)
        Dedup.mergeNewDocs(corpus, incoming)
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ${bandKeyCtes("c", " WHERE doc_id % 5 != 0", "documents",
                  Pipeline.DefaultBands, Pipeline.DefaultRowsPerBand)},
              |${bandKeyCtes("n", " WHERE doc_id % 5 = 0", "documents",
                  Pipeline.DefaultBands, Pipeline.DefaultRowsPerBand)},
              |ckeys AS (SELECT DISTINCT bk FROM cstacked),
              |fresh AS (SELECT doc_id, lang FROM documents
              |  WHERE doc_id % 5 = 0 AND md5(text) NOT IN (
              |    SELECT DISTINCT md5(text) FROM documents WHERE doc_id % 5 != 0)),
              |matched AS (SELECT DISTINCT s.doc_id
              |  FROM nstacked s JOIN ckeys USING (bk))
              |SELECT doc_id, lang FROM documents WHERE doc_id % 5 != 0
              |UNION ALL
              |SELECT doc_id, lang FROM fresh
              |  WHERE doc_id NOT IN (SELECT doc_id FROM matched)
              |ORDER BY doc_id""".stripMargin)),

    // ---- x41: REAL image decode over executor-synthesized BMPs ------------
    // Each doc_id becomes a spec-valid 24-bpp BMP built on the executors
    // (no blob ever visits the driver); extractFeatures then parses the
    // actual container header back. The oracle replays the synthesis
    // arithmetic — width/height round-trip THROUGH real BMP bytes, and
    // n_bytes pins the 4-byte row padding of the container itself.
    QueryDef(
      "x41_image_decode",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).filter(col("doc_id") < 200)
          .select(col("doc_id")).as[Long]
          .map(id => graft.ops.MediaDoc(id, "media/image",
            Multimodal.synthBmp((16 + id % 16).toInt, (8 + id % 8).toInt)))
        Multimodal.extractFeatures(media).toDF()
          .select(col("doc_id"), col("width"), col("height"), col("n_bytes"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(16 + doc_id % 16 AS INTEGER) AS width,
             |  CAST(8 + doc_id % 8 AS INTEGER) AS height,
             |  CAST(54 + (((16 + doc_id % 16) * 3 + 3) // 4) * 4 * (8 + doc_id % 8)
             |    AS INTEGER) AS n_bytes
             |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)),

    // ---- x42: PII-shaped pattern redaction --------------------------------
    // Docs are deterministically augmented with an email, a URL and a long
    // digit run (the corpus text has none), then redacted; the oracle
    // replays the augmentation and the same RE2/Java-portable regexes.
    // Counts come from pre-redaction text; the redacted text is md5'd to
    // keep oracle rows small while pinning every replaced byte.
    QueryDef(
      "x42_redact",
      (s, dir) => {
        val aug = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com see https://ex.org/p/"),
          col("doc_id").cast("string"), lit("?tok=abc123 ref "),
          (col("doc_id") + 1000000L).cast("string"))
        TextAnalysis.redact(
            Tables.documents(s, dir).filter(col("doc_id") < 300)
              .withColumn("text", aug))
          .select(col("doc_id"), col("n_url"), col("n_email"), col("n_number"),
            md5(col("redacted")).as("redacted_md5"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH aug AS (SELECT doc_id,
             |  text || ' contact user' || CAST(doc_id AS VARCHAR)
             |       || '@mail.example.com see https://ex.org/p/'
             |       || CAST(doc_id AS VARCHAR) || '?tok=abc123 ref '
             |       || CAST(doc_id + 1000000 AS VARCHAR) AS t
             |  FROM documents WHERE doc_id < 300)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(t, 'https?://[^ ]+')) AS BIGINT) AS n_url,
             |  CAST(len(regexp_extract_all(t,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
             |  CAST(len(regexp_extract_all(t, '[0-9]{6,}')) AS BIGINT) AS n_number,
             |  md5(regexp_replace(regexp_replace(regexp_replace(t,
             |    'https?://[^ ]+', '<URL>', 'g'),
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '[0-9]{6,}', '<NUM>', 'g')) AS redacted_md5
             |FROM aug ORDER BY doc_id""".stripMargin)),

    // ---- x43: Gopher-style 2-gram repetition (boilerplate filter) ---------
    // Integer outputs (top-gram multiplicity, total 2-grams) keep the
    // contract hash-exact; the MassiveText-style fraction is their ratio.
    QueryDef(
      "x43_repetition",
      (s, dir) =>
        TextAnalysis.repetition(
            Tables.documents(s, dir).filter(col("doc_id") < 300))
          .orderBy(col("doc_id")),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
             |  FROM documents WHERE doc_id < 300),
             |grams AS (SELECT doc_id,
             |    unnest(list_transform(range(1, len(t)),
             |      i -> t[i] || ' ' || t[i + 1])) AS g
             |  FROM toks WHERE len(t) >= 2),
             |counts AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2)
             |SELECT doc_id, MAX(c) AS top_2gram_n,
             |  CAST(SUM(c) AS BIGINT) AS n_2grams
             |FROM counts GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- x45: REAL audio decode over executor-synthesized WAVs ------------
    // The audio twin of x41: each doc_id becomes a spec-valid PCM WAV
    // built on the executors; decodeWavHeader parses the actual RIFF
    // container back. The oracle replays the synthesis arithmetic —
    // sample rate / channels / sample count round-trip THROUGH real WAV
    // bytes, and duration_ms pins the integer millisecond math.
    QueryDef(
      "x45_audio_decode",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).filter(col("doc_id") < 200)
          .select(col("doc_id")).as[Long]
          .map(id => graft.ops.MediaDoc(id, "media/audio",
            Multimodal.synthWav((400 + id % 100).toInt,
              (8000 + (id % 3) * 4000).toInt, (1 + id % 2).toInt)))
        Multimodal.extractAudioFeatures(media).toDF()
          .select(col("doc_id"), col("sample_rate"), col("n_channels"),
            col("n_samples"), col("duration_ms"), col("n_bytes"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sample_rate,
             |  CAST(1 + doc_id % 2 AS INTEGER) AS n_channels,
             |  CAST(400 + doc_id % 100 AS BIGINT) AS n_samples,
             |  (400 + doc_id % 100) * 1000 // (8000 + (doc_id % 3) * 4000)
             |    AS duration_ms,
             |  CAST(44 + (400 + doc_id % 100) * (1 + doc_id % 2) * 2 AS INTEGER)
             |    AS n_bytes
             |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)),

    // ---- x46: REAL video decode over executor-synthesized MP4s ------------
    // The video leg of x41/x45: minimal-but-valid ISO-BMFF files (ftyp +
    // moov/mvhd) built on executors; decodeMp4Header walks the actual box
    // structure back. Oracle replays the synthesis arithmetic — timescale
    // and duration round-trip THROUGH real container bytes.
    QueryDef(
      "x46_video_decode",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).filter(col("doc_id") < 200)
          .select(col("doc_id")).as[Long]
          .map(id => graft.ops.MediaDoc(id, "media/video",
            Multimodal.synthMp4((600 + id % 4 * 300).toInt, 3000 + id % 500)))
        Multimodal.extractVideoFeatures(media).toDF()
          .select(col("doc_id"), col("timescale"), col("duration"),
            col("duration_ms"), col("n_bytes"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(600 + (doc_id % 4) * 300 AS INTEGER) AS timescale,
             |  CAST(3000 + doc_id % 500 AS BIGINT) AS duration,
             |  (3000 + doc_id % 500) * 1000 // (600 + (doc_id % 4) * 300)
             |    AS duration_ms,
             |  CAST(132 AS INTEGER) AS n_bytes
             |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)),

    // ---- x47: benchmark decontamination (train/test overlap) --------------
    // Docs whose doc_id % 97 == 0 stand in for the held-out benchmark;
    // each remaining corpus doc reports how many distinct 3-gram shingles
    // it shares with that set (n=3 exposes partial phrase reuse, not just
    // the exact-dup tail that n=5 finds in this synthetic corpus). The oracle replays the same shingle
    // construction and hash join.
    QueryDef(
      "x47_decontaminate",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.contamination(
            docs.filter(col("doc_id") % 97 =!= 0),
            docs.filter(col("doc_id") % 97 === 0), shingleN = 3)
          .orderBy(col("doc_id"))
      },
      Some("""WITH carr AS (SELECT doc_id, string_split(text, ' ') AS a
             |  FROM documents WHERE doc_id % 97 != 0),
             |csh AS (SELECT doc_id, unnest(CASE WHEN len(a) >= 3
             |    THEN list_transform(range(1, len(a) - 1), i -> array_to_string(a[i:i+2], ' '))
             |    ELSE [array_to_string(a, ' ')] END) AS tok FROM carr),
             |ckeys AS (SELECT DISTINCT doc_id, md5(tok) AS sk FROM csh),
             |earr AS (SELECT doc_id, string_split(text, ' ') AS a
             |  FROM documents WHERE doc_id % 97 = 0),
             |esh AS (SELECT doc_id, unnest(CASE WHEN len(a) >= 3
             |    THEN list_transform(range(1, len(a) - 1), i -> array_to_string(a[i:i+2], ' '))
             |    ELSE [array_to_string(a, ' ')] END) AS tok FROM earr),
             |ekeys AS (SELECT DISTINCT md5(tok) AS sk FROM esh)
             |SELECT doc_id, COUNT(*) AS n_shared
             |FROM ckeys JOIN ekeys USING (sk)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- x44: semantic near-dup through the TRAINED quantizer -------------
    // Same-cell (k-means, 2 Lloyd iterations, fixed-point updates) pairs
    // with cosine >= 0.5 — the IVF twin of x12's LSH bucketing. The oracle
    // replays the full training + assignment (kmeansSql CTEs) and the
    // within-cell pair join. This runs the SALTED production form
    // (saltBuckets=2): a hot cell's quadratic join spreads over salt
    // buckets, and because each unordered pair is emitted exactly once
    // (at the left element's content salt) the result is identical to the
    // unsalted join — so the plain same-cell SQL below oracle-checks the
    // salted dataflow itself. nCells (the complementary skew lever) stays
    // fixed at 8 here only so the oracle replay is static.
    QueryDef(
      "x44_semantic_neardup",
      (s, dir) =>
        Similarity.cellNearDupPairs(
            Tables.embeddings(s, dir).filter(col("vec_id") < 2000),
            nCells = 8, iters = 2, minCosine = 0.5, saltBuckets = 2)
          .orderBy(col("id_a"), col("id_b")),
      Some(kmeansSql(nCells = 8, iters = 2, where = " WHERE vec_id < 2000",
        finalSelect =
        """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |  round(list_dot_product(a.e, b.e)
          |    / sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)), 6) AS sim
          |FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
          |WHERE round(list_dot_product(a.e, b.e)
          |    / sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)), 6) >= 0.5
          |ORDER BY id_a, id_b""".stripMargin))),

    // ---- x48: C4-style corpus-wide line dedup -----------------------------
    // Raffel et al. 2020 §2.2: keep only the FIRST occurrence of any
    // repeated line, then reassemble documents from surviving lines.
    // Lines = 5-word windows (the corpus is newline-free normalized
    // text); keeper order = (doc_id, line_no). Segmentation is map-only
    // codegen'd HOFs; the keep-first pass is ONE shuffle keyed by line
    // content; reassembly is ONE shuffle keyed by doc_id.
    QueryDef(
      "x48_line_dedup",
      (s, dir) =>
        Dedup.lineDedup(Tables.documents(s, dir), wordsPerLine = 5)
          .orderBy(col("doc_id")),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
             |  FROM documents),
             |lines AS (SELECT doc_id, i AS line_no,
             |    array_to_string(t[(i*5+1):(i*5+5)], ' ') AS line
             |  FROM toks, LATERAL unnest(
             |    range(0, CAST(ceil(len(t)/5.0) AS BIGINT))) AS u(i)),
             |firsts AS (SELECT doc_id, line_no, line,
             |    row_number() OVER (PARTITION BY line
             |      ORDER BY doc_id, line_no) AS rn
             |  FROM lines)
             |SELECT doc_id, COUNT(*) AS n_lines_kept,
             |  string_agg(line, ' ' ORDER BY line_no) AS clean_text
             |FROM firsts WHERE rn = 1
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- x49: GPT-style sequence packing ----------------------------------
    // Concat-then-chunk context-window assignment: exclusive prefix sum
    // of token counts in doc_id order places every document in the token
    // stream; first/last touched 256-token bin fall out arithmetically.
    // The Spark side uses the scale-safe decomposed prefix sum
    // (range-partition + local cumsum + O(partitions) offsets — the
    // Ranking.withGlobalRanks pattern); the oracle is the plain global
    // window, proving the decomposition exact. SUM() OVER in DuckDB
    // returns HUGEINT — cast to BIGINT inside the CTE so downstream
    // integer division stays BIGINT on both sides.
    QueryDef(
      "x49_pack_sequences",
      (s, dir) =>
        Packing.packSequences(Tables.documents(s, dir), capacity = 256L)
          .orderBy(col("doc_id")),
      Some("""WITH toks AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |offs AS (SELECT doc_id, n_tokens,
             |    COALESCE(CAST(SUM(n_tokens) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS start_tok
             |  FROM toks)
             |SELECT doc_id, n_tokens, start_tok,
             |  start_tok // 256 AS first_bin,
             |  (start_tok + n_tokens - 1) // 256 AS last_bin
             |FROM offs ORDER BY doc_id""".stripMargin)),

    // ---- x50: sliding token-window chunking -------------------------------
    // Per-document context-window chunks: 64 tokens every 48 (16-token
    // overlap). Map-only — codegen'd HOFs + one Generate, zero shuffle
    // at any corpus size; rows out ≈ tokens in / stride.
    QueryDef(
      "x50_chunk_text",
      (s, dir) =>
        Packing.chunkText(Tables.documents(s, dir), chunkTokens = 64, stride = 48)
          .orderBy(col("doc_id"), col("chunk_id")),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
             |  FROM documents),
             |chunks AS (SELECT doc_id, i AS chunk_id, i*48 AS chunk_start,
             |    t[(i*48+1):(i*48+64)] AS ct
             |  FROM toks, LATERAL unnest(
             |    range(0, CAST(floor((len(t)-1)/48.0) AS BIGINT) + 1)) AS u(i)
             |  WHERE len(t) > 0)
             |SELECT doc_id, chunk_id, chunk_start,
             |  CAST(len(ct) AS BIGINT) AS n_tokens,
             |  array_to_string(ct, ' ') AS chunk_text
             |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin)),

    // ---- x51: weighted corpus mixture (epochs per source) -----------------
    // Three pseudo-sources (doc_id mod 3) mixed at 2.0 / 1.25 / 0.5
    // epochs: floor(w) full copies + one md5-Bernoulli fractional copy,
    // salted per source — deterministic in any engine, map-only (explode
    // of a tiny sequence + codegen hash filter, no shuffle).
    {
      val h1 = graft.ops.TextAnalysis.hexToIntSql("md5(concat('mix:1:', doc_id))", 12)
      val h2 = graft.ops.TextAnalysis.hexToIntSql("md5(concat('mix:2:', doc_id))", 12)
      val thr25 = graft.MDFrame.bernoulliThreshold(0.25)
      val thr50 = graft.MDFrame.bernoulliThreshold(0.5)
      QueryDef(
        "x51_corpus_mix",
        (s, dir) => {
          val docs = Tables.documents(s, dir).select(col("doc_id"))
          val bySrc = (0 until 3).map(k => docs.filter(col("doc_id") % 3 === k))
          Mixing.mixCorpora(
              Seq(bySrc(0) -> 2.0, bySrc(1) -> 1.25, bySrc(2) -> 0.5))
            .select(col("doc_id"), col("source_id"), col("epoch"))
            .orderBy(col("source_id"), col("doc_id"), col("epoch"))
        },
        Some(s"""WITH src AS (SELECT doc_id, CAST(doc_id % 3 AS INT) AS source_id
                |  FROM documents),
                |fulls AS (SELECT doc_id, source_id, e AS epoch
                |  FROM src, LATERAL unnest(range(0,
                |    CASE source_id WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END)) AS u(e)),
                |extra AS (SELECT doc_id, source_id,
                |    CAST(CASE source_id WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END AS BIGINT) AS epoch
                |  FROM src
                |  WHERE (source_id = 1 AND $h1 < $thr25)
                |     OR (source_id = 2 AND $h2 < $thr50))
                |SELECT doc_id, source_id, epoch FROM fulls
                |UNION ALL SELECT doc_id, source_id, epoch FROM extra
                |ORDER BY source_id, doc_id, epoch""".stripMargin))
    },

    // ---- x52: deterministic corpus shuffle + shard assignment -------------
    // Training needs the corpus globally shuffled before sharding; a
    // salted md5 over the id is a deterministic, engine-portable
    // permutation (same order in any engine, any run). The global
    // position over that hash order uses the scale-safe decomposed rank
    // (Ranking.withGlobalRanks — never a single-task window); shard =
    // pos div 64 is then what Packing.writeShards materializes as files.
    QueryDef(
      "x52_shuffle_shard",
      (s, dir) =>
        // doc_id is the second SORT KEY (not a rider — the Ranking
        // no-rider contract): ranks are unchanged since the md5 is
        // unique per id, and the tiebreak makes the order total
        graft.ops.Ranking.withGlobalRanks(
            Tables.documents(s, dir).select(col("doc_id"))
              .withColumn("_k", md5(concat(lit("shuf:"), col("doc_id")))),
            Seq("_k" -> true, "doc_id" -> true))
          .select(col("doc_id"),
            (col("rnk").cast("long") - 1).as("pos"),
            expr("CAST((rnk - 1) DIV 64 AS BIGINT)").as("shard"))
          .orderBy(col("doc_id")),
      Some("""WITH ord AS (SELECT doc_id,
             |    row_number() OVER (ORDER BY md5(concat('shuf:', doc_id)))
             |      - 1 AS pos
             |  FROM documents)
             |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             |  CAST(pos // 64 AS BIGINT) AS shard
             |FROM ord ORDER BY doc_id""".stripMargin)),

    // ---- x53: packing-efficiency report -----------------------------------
    // The metric data engineers watch on concat-then-chunk packing: per
    // 256-token bin, how many documents start there, how many straddle
    // into the next bin (their fraction is the boundary-waste rate), and
    // the token mass started. One tiny aggregate over x49's assignment.
    QueryDef(
      "x53_packing_report",
      (s, dir) =>
        Packing.packSequences(Tables.documents(s, dir), capacity = 256L)
          .groupBy(col("first_bin"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("first_bin") =!= col("last_bin"), 1L).otherwise(0L))
              .as("n_straddlers"),
            sum(col("n_tokens")).as("tokens_started"))
          .orderBy(col("first_bin")),
      Some("""WITH toks AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |offs AS (SELECT doc_id, n_tokens,
             |    COALESCE(CAST(SUM(n_tokens) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS start_tok
             |  FROM toks)
             |SELECT start_tok // 256 AS first_bin,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(CASE WHEN start_tok // 256
             |      <> (start_tok + n_tokens - 1) // 256 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_straddlers,
             |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_started
             |FROM offs GROUP BY 1 ORDER BY first_bin""".stripMargin)),

    // ---- x55: token-bounded shard assignment (writeTokenShards' map) ------
    // The pure surface under Packing.writeTokenShards: shard = the bin
    // owning each document's FIRST token at capacity 512, via the
    // decomposed (never single-task) prefix sum. The oracle replays the
    // same running sum; SourcesSpec pins the written layout (sparse ids,
    // per-shard token window, shipped _assignment map) against this map.
    QueryDef(
      "x55_token_shard_map",
      (s, dir) =>
        Packing.tokenShardAssignment(Tables.documents(s, dir),
            tokensPerShard = 512L)
          .orderBy(col("doc_id")),
      Some("""WITH toks AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |offs AS (SELECT doc_id, n_tokens,
             |    COALESCE(CAST(SUM(n_tokens) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS start_tok
             |  FROM toks)
             |SELECT doc_id, n_tokens, start_tok,
             |  CAST(start_tok // 512 AS BIGINT) AS shard
             |FROM offs ORDER BY doc_id""".stripMargin)),

    // ---- x57: length-bucketed batching ------------------------------------
    // Exact k-quantile buckets over token count (pad-minimizing dynamic
    // batching): bucket = floor(rank·k/n) over the (n_tokens, id) order,
    // rank via the decomposed global rank, n via a broadcast one-row
    // aggregate. Per-bucket profile checked against the oracle's
    // row_number replay.
    QueryDef(
      "x57_length_buckets",
      (s, dir) =>
        Packing.lengthBuckets(Tables.documents(s, dir), k = 8)
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("n_tokens")).as("min_tokens"),
            max(col("n_tokens")).as("max_tokens"),
            sum(col("n_tokens")).as("tokens"))
          .orderBy(col("bucket")),
      Some("""WITH toks AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |r AS (SELECT doc_id, n_tokens,
             |    ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) - 1 AS rk,
             |    COUNT(*) OVER () AS n
             |  FROM toks)
             |SELECT CAST((rk * 8) // n AS BIGINT) AS bucket,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens,
             |  CAST(SUM(n_tokens) AS BIGINT) AS tokens
             |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ---- x58: corpus health report ----------------------------------------
    // The daily monitoring view over a growing corpus: per (source, lang)
    // volume, token mass, exact-dup pressure (distinct text digests vs
    // rows), and mean quality. The quality formula d/n·(1−s/n) over token
    // counts equals d·(n−s)/n², so its 10^-6 fixed-point form is PURE
    // INTEGER arithmetic — d·(n−s)·10^6 div n² — exact and identical in
    // any engine (a floor over the DOUBLE product is 1-ulp fragile: the
    // two engines' doubles can straddle an integer boundary). Sum as
    // BIGINT, divide once in DOUBLE. One partial-aggregated groupBy —
    // map-side combine does nearly all the work at any corpus size.
    QueryDef(
      "x58_corpus_report",
      (s, dir) => {
        val toks = Dedup.tokens(col("text"))
        Tables.documents(s, dir)
          .withColumn("_n", size(toks).cast("long"))
          .withColumn("_d", size(array_distinct(toks)).cast("long"))
          .withColumn("_s",
            size(filter(toks, t => length(t) === 1)).cast("long"))
          .groupBy(col("source"), col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("_n")).as("n_tokens"),
            count_distinct(md5(col("text"))).as("n_unique_texts"),
            round(sum(expr("(_d * (_n - _s) * 1000000) DIV (_n * _n)"))
                .cast("double") / 1000000.0 / count(lit(1)), 6)
              .as("mean_quality"))
          .orderBy(col("source"), col("lang"))
      },
      Some("""WITH t AS (SELECT source, lang, text,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS d,
             |    CAST(len(list_filter(string_split(text, ' '),
             |      x -> length(x) = 1)) AS BIGINT) AS s
             |  FROM documents)
             |SELECT source, lang,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(n) AS BIGINT) AS n_tokens,
             |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
             |  round(CAST(SUM((d * (n - s) * 1000000) // (n * n))
             |      AS DOUBLE) / 1000000.0 / COUNT(*), 6) AS mean_quality
             |FROM t GROUP BY source, lang
             |ORDER BY source, lang""".stripMargin)),

    // ---- x56: no-split next-fit bin packing -------------------------------
    // The whole-document batching scheme (vs x49's concat-then-chunk):
    // next-fit fill in id order, new bin on overflow, oversize docs get
    // their own bin. Spark runs the two-level decomposition (prefix-sum
    // buckets → per-bucket sequential fold in flatMapSortedGroups); the
    // oracle replays the IDENTICAL recurrence with a recursive CTE over
    // the same buckets — bit-equal (bucket, bin) for every document.
    QueryDef(
      "x56_bin_pack_nosplit",
      (s, dir) =>
        Packing.packBinsNextFit(Tables.documents(s, dir),
            capacity = 256L, bucketTokens = 8192L)
          .orderBy(col("doc_id")),
      Some("""WITH RECURSIVE
             |toks AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |offs AS (SELECT doc_id, n_tokens,
             |    COALESCE(CAST(SUM(n_tokens) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS start_tok
             |  FROM toks),
             |seq AS (SELECT doc_id, n_tokens,
             |    CAST(start_tok // 8192 AS BIGINT) AS bucket,
             |    ROW_NUMBER() OVER (PARTITION BY start_tok // 8192
             |      ORDER BY doc_id) AS rn
             |  FROM offs),
             |nf AS (
             |  SELECT doc_id, bucket, rn, n_tokens,
             |    n_tokens AS fill, CAST(0 AS BIGINT) AS bin
             |  FROM seq WHERE rn = 1
             |  UNION ALL
             |  SELECT s.doc_id, s.bucket, s.rn, s.n_tokens,
             |    CASE WHEN p.fill + s.n_tokens <= 256
             |      THEN p.fill + s.n_tokens ELSE s.n_tokens END,
             |    CASE WHEN p.fill + s.n_tokens <= 256
             |      THEN p.bin ELSE p.bin + 1 END
             |  FROM nf p JOIN seq s ON s.bucket = p.bucket AND s.rn = p.rn + 1)
             |SELECT doc_id, bucket, bin, n_tokens
             |FROM nf ORDER BY doc_id""".stripMargin)),

    // ---- x54: the one-call curation pipeline, oracle-checked end to end ---
    // The flagship shipped artifact: quality gate → exact dedup (min-id
    // keeper) → LSH near-dup dedup with Jaccard-verified pairs → benchmark
    // decontamination → deterministic salted shuffle → shard assignment.
    // Exactly Pipeline.curate + Pipeline.shardAssignment — the same code
    // curateAndShard writes to disk — with the doc_id%97 split standing in
    // for the held-out eval set (x47's convention). The oracle replays all
    // six stages: every hash is md5, the jaccard gate is integer
    // arithmetic divided once in DOUBLE, and the shuffle is a row_number
    // over md5 order — bitwise reproducible in both engines.
    QueryDef(
      "x54_curation_shard_map",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Pipeline.shardAssignment(
            Pipeline.curate(
              docs.filter(col("doc_id") % 97 =!= 0),
              docs.filter(col("doc_id") % 97 === 0)),
            docsPerShard = 64L)
          .select(col("doc_id"), col("shard"))
          .orderBy(col("doc_id"))
      },
      // AS MATERIALIZED pins DuckDB's CTE materialization for the
      // multiply-referenced stages (exact feeds banding, jaccard and the
      // anti-joins; jsets feeds both sides of the intersection) — without
      // it DuckDB re-executes the whole quality+dedup chain per reference
      // and this oracle runs ~10x slower. Semantics unchanged.
      Some(curationSql(semantic = false))),

    // ---- x59: binary-file media ingestion (files → decode round-trip) -----
    // The production ingestion bridge x41 lacks: real BMP FILES are written
    // to a scratch dir (driver-side fixture synthesis — in production the
    // crawl delivers the files), read back DISTRIBUTED through Spark's
    // binaryFile source (readMedia: one row per file, id from the digit
    // file name, media_type from the extension), and decoded by the same
    // real container parser as x41. The oracle replays the synthesis
    // arithmetic — width/height/n_bytes round-trip through actual files on
    // disk, not in-memory payloads.
    QueryDef(
      "x59_media_file_decode",
      (s, dir) => {
        val ids = Tables.documents(s, dir).filter(col("doc_id") < 200)
          .select("doc_id").collect().map(_.getLong(0)).sorted
        val mediaDir = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"),
          s"graft_x59_${Integer.toHexString(dir.hashCode)}")
        java.nio.file.Files.createDirectories(mediaDir)
        // fixture hygiene: drop any stale files, then write one spec-valid
        // BMP per doc id (deterministic bytes — same files every run)
        val stale = java.nio.file.Files.list(mediaDir)
        try stale.forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally stale.close()
        ids.foreach { id =>
          java.nio.file.Files.write(mediaDir.resolve(f"$id%05d.bmp"),
            Multimodal.synthBmp((16 + id % 16).toInt, (8 + id % 8).toInt))
        }
        Multimodal.extractFeatures(
            Multimodal.readMedia(s, mediaDir.toString, glob = "*.bmp"))
          .toDF()
          .select(col("doc_id"), col("media_type"), col("width"),
            col("height"), col("n_bytes"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, 'media/bmp' AS media_type,
             |  CAST(16 + doc_id % 16 AS INTEGER) AS width,
             |  CAST(8 + doc_id % 8 AS INTEGER) AS height,
             |  CAST(54 + (((16 + doc_id % 16) * 3 + 3) // 4) * 4 * (8 + doc_id % 8)
             |    AS INTEGER) AS n_bytes
             |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)),

    // ---- x60: curation pipeline WITH the semantic (embedding) stage -------
    // x54 plus the multi-modal stage a production curation run wants: after
    // token near-dup dedup, embedding-cosine near-dups (same trained
    // k-means cell, cosine >= 0.4, SALTED same-cell join) are clustered and
    // deduped to their min-id keeper; docs without an embedding pass
    // through. The oracle replays the ENTIRE 7-stage pipeline — including
    // the Lloyd iterations over exactly the dedup survivors' vectors — so
    // the semantic stage's placement and its interaction with
    // decontamination/shuffle/sharding are all bitwise-checked.
    QueryDef(
      "x60_curation_semantic",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Pipeline.shardAssignment(
            Pipeline.curate(
              docs.filter(col("doc_id") % 97 =!= 0),
              docs.filter(col("doc_id") % 97 === 0),
              embeddings = Some(Tables.embeddings(s, dir)
                .select(col("vec_id").as("doc_id"), col("embedding"))),
              embedMinCosine = 0.4, embedCells = 8, embedIters = 2,
              embedSaltBuckets = 2),
            docsPerShard = 64L)
          .select(col("doc_id"), col("shard"))
          .orderBy(col("doc_id"))
      },
      Some(curationSql(semantic = true))),

    // ---- x62: bigram-LM fluency scoring -----------------------------------
    // The order-sensitive twin of x39: mean log P(w_i | w_{i-1}) with
    // Laplace smoothing over corpus bigram/context counts. Counts are
    // corpus-wide (full table), output restricted to doc_id < 200 like
    // x39; the oracle replays the same counts, the same smoothing, and
    // the same round-to-6 mean (ln is libm on both sides — the x39-proven
    // tolerance).
    QueryDef(
      "x62_bigram_logprob",
      (s, dir) =>
        TextAnalysis.bigramLogProb(Tables.documents(s, dir))
          .filter(col("doc_id") < 200)
          .orderBy(col("doc_id")),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
             |bg AS (SELECT doc_id, a[i] AS prev, a[i+1] AS cur
             |  FROM toks, LATERAL unnest(range(1, len(a))) AS u(i)
             |  WHERE len(a) >= 2),
             |bc AS (SELECT prev, cur, COUNT(*) AS bc FROM bg GROUP BY prev, cur),
             |uc AS (SELECT prev, COUNT(*) AS uc FROM bg GROUP BY prev),
             |v AS (SELECT COUNT(DISTINCT tok) AS v FROM
             |  (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t)
             |SELECT doc_id,
             |  round(SUM(ln(CAST(bc + 1 AS DOUBLE) / (uc + v))) / COUNT(*), 6)
             |    AS bigram_logprob
             |FROM bg JOIN bc USING (prev, cur) JOIN uc USING (prev) CROSS JOIN v
             |WHERE doc_id < 200
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- x64: LSH banding precision report --------------------------------
    // The tuning metric behind every bands/rowsPerBand choice: of the
    // candidate pairs the banding emits, how many survive exact Jaccard
    // verification at each threshold tier. A data engineer reads this
    // to trade recall (more bands) against verification cost (more false
    // candidates). One distilled-pair jaccard pass, one-row report,
    // engine-exact (integer counts; the ratio divides two exact longs).
    QueryDef(
      "x64_banding_precision",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.jaccard(docs, Dedup.lshCandidatePairs(docs, bands = 2, rowsPerBand = 4))
          .agg(
            count(lit(1)).as("n_candidates"),
            sum(when(col("jaccard") >= 0.9, 1L).otherwise(0L)).as("n_ge90"),
            sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)).as("n_ge50"),
            round(sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L))
                .cast("double") / count(lit(1)), 6).as("precision_at_50"))
      },
      Some(s"""WITH $lshPairsCtes,
              |sets AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
              |  FROM documents),
              |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sets GROUP BY doc_id),
              |inter AS (
              |  SELECT p.id_a, p.id_b, COUNT(*) AS inter FROM pairs p
              |  JOIN sets sa ON sa.doc_id = p.id_a
              |  JOIN sets sb ON sb.doc_id = p.id_b AND sb.tok = sa.tok
              |  GROUP BY p.id_a, p.id_b),
              |j AS (SELECT p.id_a, p.id_b,
              |    CAST(COALESCE(i.inter, 0) AS DOUBLE)
              |      / (za.sz + zb.sz - COALESCE(i.inter, 0)) AS jaccard
              |  FROM pairs p
              |  LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
              |  JOIN sizes za ON za.doc_id = p.id_a
              |  JOIN sizes zb ON zb.doc_id = p.id_b)
              |SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
              |  CAST(SUM(CASE WHEN jaccard >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge90,
              |  CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge50,
              |  round(CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
              |    / COUNT(*), 6) AS precision_at_50
              |FROM j""".stripMargin)),

    // ---- x63: keeper election under the keep-longest policy ---------------
    // Which duplicate-cluster member survives is an editorial decision:
    // the pipelines above keep the min id (crawl-order-stable); corpus
    // curation usually keeps the LONGEST member (the most complete copy
    // of a scraped page). Clusters come from the standard LSH pairs
    // (x03/x30's dataflow); the election is a per-cluster window over
    // (token count DESC, id). The oracle replays labels and election.
    QueryDef(
      "x63_keeper_longest",
      (s, dir) =>
        Dedup.keeperElection(
            Tables.documents(s, dir),
            Dedup.lshCandidatePairs(Tables.documents(s, dir),
              bands = 2, rowsPerBand = 4),
            rounds = 3, policy = "longest")
          .orderBy(col("doc_id")),
      Some(s"""WITH $lshPairsCtes,
              |${clusterCtes(3)},
              |stats AS (SELECT doc_id,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
              |  FROM documents),
              |k AS (SELECT lbl, doc_id AS keeper FROM (
              |  SELECT l.lbl, s.doc_id,
              |    ROW_NUMBER() OVER (PARTITION BY l.lbl
              |      ORDER BY s.n DESC, s.doc_id ASC) AS rn
              |  FROM l3 l JOIN stats s ON s.doc_id = l.id) t WHERE rn = 1)
              |SELECT l.id AS doc_id, l.lbl AS cluster, k.keeper
              |FROM l3 l JOIN k ON k.lbl = l.lbl
              |ORDER BY doc_id""".stripMargin)),

    // ---- x61: incremental curated-corpus append ---------------------------
    // The daily-crawl operational path: a new batch (doc_id % 3 == 0) is
    // gated against the existing corpus (doc_id % 3 != 0) WITHOUT
    // re-curating the corpus — quality gate, exact-digest anti-join,
    // within-batch exact keeper, Jaccard-VERIFIED near-dup rejection vs
    // the corpus band-key state (position-free band match, exact
    // token-set Jaccard residual — mergeNewDocs' recall with the
    // pipeline's precision), within-batch verified near-dup dedup, and
    // benchmark decontamination. The oracle replays every stage,
    // including both Jaccard verifications.
    QueryDef(
      "x61_corpus_append",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Pipeline.appendCurated(
            docs.filter(col("doc_id") % 3 =!= 0),
            docs.filter(col("doc_id") % 3 === 0),
            docs.filter(col("doc_id") % 97 === 0))
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
              |good AS (SELECT doc_id, text FROM batch
              |  WHERE $qualityExprSql > 0.3),
              |corpdig AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 != 0),
              |fresh AS (SELECT doc_id, text FROM good
              |  WHERE md5(text) NOT IN (SELECT h FROM corpdig)),
              |exact AS MATERIALIZED (SELECT f.doc_id, f.text FROM fresh f
              |  JOIN (SELECT md5(text) AS h, MIN(doc_id) AS keeper
              |        FROM fresh GROUP BY 1) k
              |    ON md5(f.text) = k.h AND f.doc_id = k.keeper),
              |${bandKeyCtes("c", " WHERE doc_id % 3 != 0", "documents",
                  Pipeline.DefaultBands, Pipeline.DefaultRowsPerBand)},
              |${bandKeyCtes("n", "", "exact",
                  Pipeline.DefaultBands, Pipeline.DefaultRowsPerBand)},
              |cand AS (SELECT DISTINCT n.doc_id AS nid, c.doc_id AS cid
              |  FROM nstacked n JOIN cstacked c ON n.bk = c.bk),
              |njset AS MATERIALIZED (SELECT DISTINCT doc_id,
              |    unnest(string_split(text, ' ')) AS tok FROM exact),
              |cjset AS MATERIALIZED (SELECT DISTINCT doc_id,
              |    unnest(string_split(text, ' ')) AS tok FROM documents
              |  WHERE doc_id % 3 != 0 AND doc_id IN (SELECT cid FROM cand)),
              |nsz AS (SELECT doc_id, COUNT(*) AS sz FROM njset GROUP BY doc_id),
              |csz AS (SELECT doc_id, COUNT(*) AS sz FROM cjset GROUP BY doc_id),
              |cinter AS (SELECT cd.nid, cd.cid, COUNT(*) AS inter FROM cand cd
              |  JOIN njset a ON a.doc_id = cd.nid
              |  JOIN cjset b ON b.doc_id = cd.cid AND b.tok = a.tok
              |  GROUP BY cd.nid, cd.cid),
              |crej AS (SELECT DISTINCT cd.nid AS doc_id FROM cand cd
              |  JOIN nsz ON nsz.doc_id = cd.nid
              |  JOIN csz ON csz.doc_id = cd.cid
              |  LEFT JOIN cinter i ON i.nid = cd.nid AND i.cid = cd.cid
              |  WHERE CAST(COALESCE(i.inter, 0) AS DOUBLE)
              |      / (nsz.sz + csz.sz - COALESCE(i.inter, 0)) >= 0.5),
              |vsc AS MATERIALIZED (SELECT doc_id, text FROM exact
              |  WHERE doc_id NOT IN (SELECT doc_id FROM crej)),
              |${bandKeyCtes("w", "", "vsc",
                  Pipeline.DefaultBands, Pipeline.DefaultRowsPerBand)},
              |${cappedPairCtes("wstacked", "rawpairs")},
              |wjset AS MATERIALIZED (SELECT DISTINCT doc_id,
              |    unnest(string_split(text, ' ')) AS tok FROM vsc),
              |wsz AS (SELECT doc_id, COUNT(*) AS sz FROM wjset GROUP BY doc_id),
              |winter AS (SELECT p.id_a, p.id_b, COUNT(*) AS inter FROM rawpairs p
              |  JOIN wjset sa ON sa.doc_id = p.id_a
              |  JOIN wjset sb ON sb.doc_id = p.id_b AND sb.tok = sa.tok
              |  GROUP BY p.id_a, p.id_b),
              |pairs AS MATERIALIZED (SELECT p.id_a, p.id_b FROM rawpairs p
              |  JOIN wsz za ON za.doc_id = p.id_a
              |  JOIN wsz zb ON zb.doc_id = p.id_b
              |  LEFT JOIN winter i ON i.id_a = p.id_a AND i.id_b = p.id_b
              |  WHERE CAST(COALESCE(i.inter, 0) AS DOUBLE)
              |      / (za.sz + zb.sz - COALESCE(i.inter, 0)) >= 0.5),
              |${clusterCtes(3)},
              |wdrop AS (SELECT id AS doc_id FROM l3 WHERE lbl <> id),
              |dedup AS MATERIALIZED (SELECT doc_id, text FROM vsc
              |  WHERE doc_id NOT IN (SELECT doc_id FROM wdrop)),
              |darr AS (SELECT doc_id, string_split(text, ' ') AS a FROM dedup),
              |dsh AS (SELECT doc_id, unnest(CASE WHEN len(a) >= 5
              |    THEN list_transform(range(1, len(a) - 3), i -> array_to_string(a[i:i+4], ' '))
              |    ELSE [array_to_string(a, ' ')] END) AS tok FROM darr),
              |dkeys AS (SELECT DISTINCT doc_id, md5(tok) AS sk FROM dsh),
              |evarr AS (SELECT doc_id, string_split(text, ' ') AS a
              |  FROM documents WHERE doc_id % 97 = 0),
              |evsh AS (SELECT doc_id, unnest(CASE WHEN len(a) >= 5
              |    THEN list_transform(range(1, len(a) - 3), i -> array_to_string(a[i:i+4], ' '))
              |    ELSE [array_to_string(a, ' ')] END) AS tok FROM evarr),
              |evkeys AS (SELECT DISTINCT md5(tok) AS sk FROM evsh),
              |contam AS (SELECT doc_id FROM dkeys JOIN evkeys USING (sk)
              |  GROUP BY doc_id HAVING COUNT(*) > 4)
              |SELECT doc_id FROM dedup
              |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)
              |ORDER BY doc_id""".stripMargin)),

    // ---- x65: duplicated W-gram span report (substring-level dedup) -------
    // Document-level dedup misses the dominant real-world duplication
    // mode: boilerplate passages repeated ACROSS distinct documents
    // (headers, license blocks, templates). Keep-first-occurrence over
    // every 6-gram span; per doc, the duplicated-span count and the
    // token coverage of their interval union. Integer interval math +
    // one round(6) ratio — engine-exact.
    QueryDef(
      "x65_span_dedup",
      (s, dir) =>
        Dedup.duplicatedSpanReport(Tables.documents(s, dir), w = 6)
          .orderBy(col("doc_id")),
      Some("""WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
             |occ AS (SELECT doc_id, i - 1 AS pos, md5(array_to_string(a[i:i+5], ' ')) AS h
             |  FROM arr, LATERAL unnest(range(1, len(a) - 4)) AS u(i)
             |  WHERE len(a) >= 6),
             |k AS (SELECT h, doc_id AS kd, pos AS kp FROM (
             |  SELECT h, doc_id, pos,
             |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
             |  FROM occ) t WHERE rn = 1),
             |dups AS (SELECT o.doc_id, o.pos FROM occ o JOIN k ON k.h = o.h
             |  WHERE NOT (o.doc_id = k.kd AND o.pos = k.kp)),
             |cov AS (SELECT doc_id, pos,
             |  GREATEST(0, pos + 6 - GREATEST(pos, COALESCE(MAX(pos + 6) OVER (
             |    PARTITION BY doc_id ORDER BY pos
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS c
             |  FROM dups),
             |nt AS (SELECT doc_id, CAST(len(a) AS BIGINT) AS n FROM arr)
             |SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
             |  CAST(SUM(c.c) AS BIGINT) AS dup_tokens,
             |  round(CAST(SUM(c.c) AS DOUBLE) / MAX(nt.n), 6) AS dup_ratio
             |FROM cov c JOIN nt ON nt.doc_id = c.doc_id
             |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin)),

    // ---- x68: scrub duplicated spans (the substring-dedup ACTION) ---------
    // x65 measures; this rewrites: every duplicated 6-gram span's tokens
    // are removed, first occurrences stay. Spark side is the map-side HOF
    // rewrite (span starts joined as a per-doc int array — tokens never
    // shuffle); the oracle is the naive expand/anti-join/re-aggregate —
    // two shapes, one answer.
    QueryDef(
      "x68_span_scrub",
      (s, dir) =>
        Dedup.scrubDuplicatedSpans(Tables.documents(s, dir), w = 6)
          .orderBy(col("doc_id")),
      Some("""WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
             |occ AS (SELECT doc_id, i - 1 AS pos, md5(array_to_string(a[i:i+5], ' ')) AS h
             |  FROM arr, LATERAL unnest(range(1, len(a) - 4)) AS u(i)
             |  WHERE len(a) >= 6),
             |k AS (SELECT h, doc_id AS kd, pos AS kp FROM (
             |  SELECT h, doc_id, pos,
             |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
             |  FROM occ) t WHERE rn = 1),
             |dups AS (SELECT o.doc_id, o.pos FROM occ o JOIN k ON k.h = o.h
             |  WHERE NOT (o.doc_id = k.kd AND o.pos = k.kp)),
             |cpos AS (SELECT DISTINCT doc_id, CAST(pp AS BIGINT) AS p
             |  FROM dups, LATERAL unnest(range(pos, pos + 6)) v(pp)),
             |tk AS (SELECT doc_id, i - 1 AS p, a[i] AS tok
             |  FROM arr, LATERAL unnest(range(1, len(a) + 1)) u(i)),
             |kept AS (SELECT t.doc_id, t.p, t.tok FROM tk t
             |  LEFT JOIN cpos c ON c.doc_id = t.doc_id AND c.p = t.p
             |  WHERE c.p IS NULL),
             |reb AS (SELECT doc_id,
             |    array_to_string(array_agg(tok ORDER BY p), ' ') AS text
             |  FROM kept GROUP BY doc_id)
             |SELECT d.doc_id, COALESCE(r.text, '') AS text
             |FROM documents d LEFT JOIN reb r USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // ---- x66: int8 quantization recall report -----------------------------
    // The memory/recall tradeoff behind every billion-vector deployment:
    // quantize to int8 (4× smaller), rank by quantized cosine, report
    // per-query overlap with the exact top-k. Quantized arithmetic is
    // integer-valued doubles — exact on both engines; the one float op
    // (x * (127/max|x|)) is the same IEEE expression on both sides.
    QueryDef(
      "x66_quantized_recall",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter(col("vec_id") < 10)
        val exact = Similarity.bruteForceTopK(q, emb, k = 3)
          .select(col("query_id"), col("neighbor_id"))
        val quant = Similarity.quantizedTopK(q, emb, k = 3)
          .select(col("query_id"), col("neighbor_id"), lit(1L).as("_m"))
        exact.join(quant, Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(coalesce(sum(col("_m")), lit(0L)).as("n_match"),
            round(coalesce(sum(col("_m")), lit(0L)).cast("double") / 3, 6)
              .as("recall_at_3"))
          .orderBy(col("query_id"))
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
             |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS m
             |  FROM embeddings),
             |qq AS (SELECT vec_id, CASE WHEN m > 0
             |    THEN list_transform(e, x -> round(x * (127.0 / m)))
             |    ELSE list_transform(e, x -> 0.0) END AS qv FROM v),
             |exs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    round(list_dot_product(q.e, c.e)
             |      / sqrt(list_dot_product(q.e, q.e) * list_dot_product(c.e, c.e)), 6) AS sim
             |  FROM v q CROSS JOIN v c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
             |exr AS (SELECT query_id, neighbor_id FROM (
             |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
             |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
             |  FROM exs) t WHERE rk <= 3),
             |qzs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    round(list_dot_product(q.qv, c.qv)
             |      / sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(c.qv, c.qv)), 6) AS sim
             |  FROM qq q CROSS JOIN qq c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
             |qzr AS (SELECT query_id, neighbor_id FROM (
             |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
             |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
             |  FROM qzs) t WHERE rk <= 3)
             |SELECT e.query_id, CAST(COUNT(z.neighbor_id) AS BIGINT) AS n_match,
             |  round(CAST(COUNT(z.neighbor_id) AS DOUBLE) / 3, 6) AS recall_at_3
             |FROM exr e LEFT JOIN qzr z
             |  ON z.query_id = e.query_id AND z.neighbor_id = e.neighbor_id
             |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin)),

    // ---- x209: JL-projection recall audit ----------------------------------
    // Dimension reduction 64 -> 16 via the deterministic ±1 sign
    // matrix (Achlioptas); recall@3 of projected cosine top-k vs the
    // exact ranking — the audit before wiring a projected ANN index —
    // see functions/Similarity.jlProject/jlTopK.
    QueryDef(
      "x209_jl_recall",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter(col("vec_id") < 10)
        val exact = Similarity.bruteForceTopK(q, emb, k = 3)
          .select(col("query_id"), col("neighbor_id"))
        val jl = Similarity.jlTopK(q, emb, k = 3, inDims = 64,
            outDims = 16)
          .select(col("query_id"), col("neighbor_id"), lit(1L).as("_m"))
        exact.join(jl, Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(coalesce(sum(col("_m")), lit(0L)).as("n_match"),
            round(coalesce(sum(col("_m")), lit(0L)).cast("double") / 3, 6)
              .as("recall_at_3"))
          .orderBy(col("query_id"))
      },
      Some("""WITH sm AS (SELECT i, j, CAST(1 - 2 * ((instr(
             |      '0123456789abcdef',
             |      substr(md5('jl:' || i || ':' || j), 1, 1)) - 1) % 2)
             |      AS DOUBLE) AS s
             |  FROM (SELECT unnest(generate_series(0, 63)) AS i) a
             |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) b),
             |qv AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
             |    x -> round(x * 16384.0)) AS q FROM embeddings),
             |pj AS (SELECT vec_id, j, SUM(q[i + 1] * s) AS y
             |  FROM qv CROSS JOIN sm GROUP BY 1, 2),
             |pv AS (SELECT vec_id, list(y ORDER BY j) AS p FROM pj
             |  GROUP BY 1),
             |v AS (SELECT vec_id, embedding::DOUBLE[] AS e
             |  FROM embeddings),
             |exs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    round(list_dot_product(q.e, c.e)
             |      / sqrt(list_dot_product(q.e, q.e)
             |        * list_dot_product(c.e, c.e)), 6) AS sim
             |  FROM v q CROSS JOIN v c
             |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
             |exr AS (SELECT query_id, neighbor_id FROM (
             |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
             |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
             |    AS rk FROM exs) t WHERE rk <= 3),
             |jls AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    round(list_dot_product(q.p, c.p)
             |      / sqrt(list_dot_product(q.p, q.p)
             |        * list_dot_product(c.p, c.p)), 6) AS sim
             |  FROM pv q CROSS JOIN pv c
             |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
             |jlr AS (SELECT query_id, neighbor_id FROM (
             |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
             |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
             |    AS rk FROM jls) t WHERE rk <= 3)
             |SELECT e.query_id,
             |  CAST(COUNT(z.neighbor_id) AS BIGINT) AS n_match,
             |  round(CAST(COUNT(z.neighbor_id) AS DOUBLE) / 3, 6)
             |    AS recall_at_3
             |FROM exr e LEFT JOIN jlr z
             |  ON z.query_id = e.query_id AND z.neighbor_id = e.neighbor_id
             |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin)),

    // ---- x215: MMR diverse retrieval ---------------------------------------
    // Maximal-marginal-relevance re-ranking of the brute-force pool
    // (lambda = 0.7, k = 3 greedy steps, pool 8); the oracle unrolls
    // the greedy argmax step by step over the same round-6 sim
    // tables — see functions/Similarity.mmrTopK.
    QueryDef(
      "x215_mmr_topk",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.mmrTopK(emb.filter(col("vec_id") < 6), emb, k = 3,
          poolSize = 8, lambda = 0.7)
      },
      Some {
        val steps = (2 to 3).map { i =>
          s"""cand$i AS (SELECT c.query_id, c.nid, c.sim FROM pool c
             |  LEFT JOIN sel${i - 1} x ON x.query_id = c.query_id
             |    AND x.nid = c.nid
             |  WHERE x.nid IS NULL),
             |mx$i AS (SELECT c.query_id, c.nid, MAX(ps.ps) AS m
             |  FROM cand$i c JOIN sel${i - 1} s
             |    ON s.query_id = c.query_id
             |  JOIN psim ps ON ps.query_id = c.query_id
             |    AND ps.na = least(c.nid, s.nid)
             |    AND ps.nb = greatest(c.nid, s.nid)
             |  GROUP BY 1, 2),
             |s$i AS (SELECT query_id, nid, mmr FROM (
             |  SELECT m.query_id, m.nid,
             |    CAST(0.7 AS DECIMAL(2,1)) * c.sim
             |      - CAST(0.3 AS DECIMAL(2,1)) * m.m AS mmr,
             |    ROW_NUMBER() OVER (PARTITION BY m.query_id
             |      ORDER BY CAST(0.7 AS DECIMAL(2,1)) * c.sim
             |        - CAST(0.3 AS DECIMAL(2,1)) * m.m DESC, m.nid) AS rk
             |  FROM mx$i m JOIN pool c ON c.query_id = m.query_id
             |    AND c.nid = m.nid) t
             |  WHERE rk = 1),
             |sel$i AS (SELECT query_id, nid FROM sel${i - 1}
             |  UNION ALL SELECT query_id, nid FROM s$i)""".stripMargin
        }.mkString(",\n")
        s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e
           |  FROM embeddings),
           |sims AS (SELECT q.vec_id AS query_id, c.vec_id AS nid,
           |    round(list_dot_product(q.e, c.e)
           |      / sqrt(list_dot_product(q.e, q.e)
           |        * list_dot_product(c.e, c.e)), 6) AS sim
           |  FROM v q CROSS JOIN v c
           |  WHERE q.vec_id < 6 AND q.vec_id <> c.vec_id),
           |pool AS (SELECT query_id, nid,
           |    CAST(sim AS DECIMAL(18,6)) AS sim FROM (
           |  SELECT query_id, nid, sim, ROW_NUMBER() OVER (
           |    PARTITION BY query_id ORDER BY sim DESC, nid) AS rk
           |  FROM sims) t WHERE rk <= 8),
           |pe AS (SELECT p.query_id, p.nid, v.e FROM pool p
           |  JOIN v ON v.vec_id = p.nid),
           |psim AS (SELECT a.query_id, a.nid AS na, b.nid AS nb,
           |    CAST(round(list_dot_product(a.e, b.e)
           |      / sqrt(list_dot_product(a.e, a.e)
           |        * list_dot_product(b.e, b.e)), 6) AS DECIMAL(18,6))
           |      AS ps
           |  FROM pe a JOIN pe b ON a.query_id = b.query_id
           |    AND a.nid < b.nid),
           |s1 AS (SELECT query_id, nid,
           |    CAST(0.7 AS DECIMAL(2,1)) * sim AS mmr FROM (
           |  SELECT query_id, nid, sim, ROW_NUMBER() OVER (
           |    PARTITION BY query_id ORDER BY sim DESC, nid) AS rk
           |  FROM pool) t WHERE rk = 1),
           |sel1 AS (SELECT query_id, nid FROM s1),
           |$steps
           |SELECT query_id, CAST(1 AS BIGINT) AS rk,
           |  nid AS neighbor_id,
           |  CAST(round(mmr, 6) AS DOUBLE) AS mmr FROM s1
           |UNION ALL SELECT query_id, CAST(2 AS BIGINT), nid,
           |  CAST(round(mmr, 6) AS DOUBLE) FROM s2
           |UNION ALL SELECT query_id, CAST(3 AS BIGINT), nid,
           |  CAST(round(mmr, 6) AS DOUBLE) FROM s3
           |ORDER BY query_id, rk""".stripMargin
      }),

    // ---- x69: split-leakage audit -----------------------------------------
    // The MLOps check after x33's split and x03's near-dup machinery
    // compose: Jaccard-VERIFIED near-dup pairs whose endpoints straddle
    // train/val/test boundaries — eval answers leaking into training.
    // Verification first means a banding false positive can't raise a
    // false alarm. Counts per canonical split pair, engine-exact.
    QueryDef(
      "x69_split_leakage",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val verified =
          Dedup.jaccard(docs, Dedup.lshCandidatePairs(docs, bands = 2, rowsPerBand = 4))
            .filter(col("jaccard") >= 0.5)
            .select(col("id_a"), col("id_b"))
        graft.ops.Splits.splitLeakage(docs, verified, "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .orderBy(col("split_a"), col("split_b"))
      },
      Some(s"""WITH $lshPairsCtes,
              |sets AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
              |  FROM documents),
              |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sets GROUP BY doc_id),
              |inter AS (
              |  SELECT p.id_a, p.id_b, COUNT(*) AS inter FROM pairs p
              |  JOIN sets sa ON sa.doc_id = p.id_a
              |  JOIN sets sb ON sb.doc_id = p.id_b AND sb.tok = sa.tok
              |  GROUP BY p.id_a, p.id_b),
              |vp AS (SELECT p.id_a, p.id_b FROM pairs p
              |  LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
              |  JOIN sizes za ON za.doc_id = p.id_a
              |  JOIN sizes zb ON zb.doc_id = p.id_b
              |  WHERE CAST(COALESCE(i.inter, 0) AS DOUBLE)
              |      / (za.sz + zb.sz - COALESCE(i.inter, 0)) >= 0.5),
              |sp AS (SELECT doc_id, ${graft.ops.Splits.assignSplitSql("doc_id",
                 Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))} AS split
              |  FROM documents)
              |SELECT LEAST(sa.split, sb.split) AS split_a,
              |  GREATEST(sa.split, sb.split) AS split_b,
              |  CAST(COUNT(*) AS BIGINT) AS n_leaked_pairs
              |FROM vp JOIN sp sa ON sa.doc_id = vp.id_a
              |JOIN sp sb ON sb.doc_id = vp.id_b
              |WHERE sa.split <> sb.split
              |GROUP BY 1, 2 ORDER BY split_a, split_b""".stripMargin)),

    // ---- x76: curation pipeline with domain balancing ---------------------
    // x54's 6-stage pipeline with the per-source cap (x67) as a
    // first-class stage between quality and exact dedup: at most 12
    // best-quality docs per source enter the dedup machinery. The
    // oracle replays the whole chain with the plain-window cap; the
    // Spark side runs the salted two-phase form — same rows, shard map
    // bitwise-checked like x54/x60.
    QueryDef(
      "x76_curation_capped",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Pipeline.shardAssignment(
            Pipeline.curate(
              docs.filter(col("doc_id") % 97 =!= 0),
              docs.filter(col("doc_id") % 97 === 0),
              maxPerSource = Some(12)),
            docsPerShard = 64L)
          .select(col("doc_id"), col("shard"))
          .orderBy(col("doc_id"))
      },
      Some(curationSql(semantic = false, cap = Some(12)))),

    // ---- x75: content-defined chunking ------------------------------------
    // Rolling-hash chunk boundaries (4-token window, divisor 16): edits
    // shift fixed-size chunks (x50) everywhere downstream, but CDC
    // boundaries depend only on local content and re-synchronize — the
    // chunk-level dedup substrate. Map-only; md5 digests per chunk.
    QueryDef(
      "x75_cdc_chunks",
      (s, dir) =>
        Packing.cdcChunks(Tables.documents(s, dir), window = 4, divisor = 16)
          .orderBy(col("doc_id"), col("chunk_idx")),
      Some(s"""WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
              |bnd AS (SELECT doc_id, a,
              |    COALESCE(list_filter(list_transform(range(4, len(a) + 1),
              |      j -> CASE WHEN ${TextAnalysis.hexToIntSql(
                       "md5(array_to_string(a[j-3:j], ' '))", 8)} % 16 = 0
              |        THEN j - 1 ELSE CAST(-1 AS BIGINT) END), x -> x >= 0), []) AS b
              |  FROM arr),
              |ch AS (SELECT doc_id, a,
              |    list_concat([CAST(0 AS BIGINT)], list_transform(b, x -> x + 1)) AS ss,
              |    list_concat(b, [CAST(len(a) - 1 AS BIGINT)]) AS ee
              |  FROM bnd),
              |rws AS (SELECT doc_id, a, j - 1 AS chunk_idx, ss[j] AS s, ee[j] AS e
              |  FROM ch, LATERAL unnest(range(1, len(ss) + 1)) u(j)
              |  WHERE ss[j] <= ee[j])
              |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
              |  CAST(s AS BIGINT) AS start_tok,
              |  CAST(e - s + 1 AS BIGINT) AS n_tokens,
              |  md5(array_to_string(a[s+1:e+1], ' ')) AS chunk_digest
              |FROM rws ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ---- x77: chunk-level dedup report (shift-robust, over x75) -----------
    // Keep-first dedup at CDC-chunk granularity: chunks tile disjointly
    // so covered tokens are a plain sum, and re-synchronizing
    // boundaries keep duplication visible across edits that would shift
    // every fixed W-gram. Same keeper-MIN + build-side join shape as
    // x65.
    QueryDef(
      "x77_chunk_dedup",
      (s, dir) =>
        Packing.chunkDedupReport(Tables.documents(s, dir),
            window = 4, divisor = 16)
          .orderBy(col("doc_id")),
      Some(s"""WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
              |bnd AS (SELECT doc_id, a,
              |    COALESCE(list_filter(list_transform(range(4, len(a) + 1),
              |      j -> CASE WHEN ${TextAnalysis.hexToIntSql(
                       "md5(array_to_string(a[j-3:j], ' '))", 8)} % 16 = 0
              |        THEN j - 1 ELSE CAST(-1 AS BIGINT) END), x -> x >= 0), []) AS b
              |  FROM arr),
              |ch AS (SELECT doc_id, a,
              |    list_concat([CAST(0 AS BIGINT)], list_transform(b, x -> x + 1)) AS ss,
              |    list_concat(b, [CAST(len(a) - 1 AS BIGINT)]) AS ee
              |  FROM bnd),
              |rws AS (SELECT doc_id, ss[j] AS s, ee[j] - ss[j] + 1 AS n_tokens,
              |    md5(array_to_string(a[ss[j]+1:ee[j]+1], ' ')) AS h
              |  FROM ch, LATERAL unnest(range(1, len(ss) + 1)) u(j)
              |  WHERE ss[j] <= ee[j]),
              |k AS (SELECT h, doc_id AS kd, s AS ks FROM (
              |  SELECT h, doc_id, s,
              |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn
              |  FROM rws) t WHERE rn = 1),
              |dups AS (SELECT o.doc_id, o.n_tokens FROM rws o JOIN k ON k.h = o.h
              |  WHERE NOT (o.doc_id = k.kd AND o.s = k.ks)),
              |nt AS (SELECT doc_id, CAST(len(a) AS BIGINT) AS n FROM arr)
              |SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_chunks,
              |  CAST(SUM(d.n_tokens) AS BIGINT) AS dup_tokens,
              |  round(CAST(SUM(d.n_tokens) AS DOUBLE) / MAX(nt.n), 6) AS dup_ratio
              |FROM dups d JOIN nt ON nt.doc_id = d.doc_id
              |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)),

    // ---- x74: temperature-rebalanced mixture (x72 ∘ x51, distributed) -----
    // The materialized rebalance: every doc gets floor(boost) copies
    // plus a deterministic md5-Bernoulli fractional copy, with boosts
    // computed FROM the data and joined back as a broadcast — no driver
    // round-trip. en (44% of the corpus) thins to ~0.75x; fr oversamples
    // to ~1.4x. The oracle replays weights, epochs range, and the
    // threshold comparison bit-for-bit.
    QueryDef(
      "x74_temperature_mix",
      (s, dir) =>
        Mixing.temperatureMix(
            Tables.documents(s, dir).select(col("doc_id"), col("lang")),
            "lang", alpha = 0.5)
          .orderBy(col("doc_id"), col("epoch")),
      Some(s"""WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
              |w AS (SELECT lang, n_docs,
              |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS s
              |  FROM c),
              |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS N FROM c),
              |s2 AS (SELECT CAST(SUM(s) AS BIGINT) AS st FROM w),
              |wq AS (SELECT lang,
              |    round((CAST(s AS DOUBLE) / st) / (CAST(n_docs AS DOUBLE) / N), 6) AS boost
              |  FROM w CROSS JOIN t CROSS JOIN s2),
              |mix AS (SELECT d.doc_id, d.lang, e AS epoch, q.boost
              |  FROM documents d JOIN wq q USING (lang),
              |  LATERAL unnest(range(0, CAST(floor(q.boost) AS BIGINT) + 1)) u(e))
              |SELECT doc_id, lang, epoch FROM mix
              |WHERE epoch < floor(boost)
              |   OR ${TextAnalysis.hexToIntSql(
                      "md5('tmix:' || lang || ':' || doc_id)", 12)}
              |     < CAST(floor((boost - floor(boost)) * 281474976710656.0) AS BIGINT)
              |ORDER BY doc_id, epoch""".stripMargin)),

    // ---- x73: token-shard integrity manifest ------------------------------
    // The producer/consumer handshake for shipped shards: per occupied
    // shard, doc count, token mass, and an ORDER-INDEPENDENT content
    // digest (sum of 32-bit md5 prefixes) a loader re-derives from what
    // it read. Integer arithmetic end to end — engine-exact.
    QueryDef(
      "x73_shard_manifest",
      (s, dir) =>
        Packing.shardManifest(Tables.documents(s, dir), tokensPerShard = 512L)
          .orderBy(col("shard")),
      Some(s"""WITH toks AS (SELECT doc_id, text,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              |  FROM documents),
              |offs AS (SELECT doc_id, text, n_tokens,
              |    COALESCE(CAST(SUM(n_tokens) OVER (ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              |      AS BIGINT), 0) AS start_tok
              |  FROM toks)
              |SELECT CAST(start_tok // 512 AS BIGINT) AS shard,
              |  CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(n_tokens) AS BIGINT) AS token_mass,
              |  CAST(SUM(${TextAnalysis.hexToIntSql("md5(text)", 8)}) AS BIGINT)
              |    AS content_digest
              |FROM offs GROUP BY 1 ORDER BY shard""".stripMargin)),

    // ---- x72: temperature sampling weights (multilingual rebalance) -------
    // q_i ∝ p_i^0.5 over the skewed lang distribution — the knob that
    // turns "en is 44% of the corpus" into a flatter training mix. The
    // p^α terms snap to integer micro-units BEFORE the normalizing sum
    // (order-free integer arithmetic); α=0.5 rides sqrt, IEEE-exact on
    // both engines. `boost` is the epochs multiplier for x51's mixer.
    QueryDef(
      "x72_temperature_weights",
      (s, dir) =>
        Mixing.temperatureWeights(Tables.documents(s, dir), "lang", alpha = 0.5)
          .orderBy(col("lang")),
      Some("""WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
             |w AS (SELECT lang, n_docs,
             |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS s
             |  FROM c),
             |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS N FROM c),
             |s2 AS (SELECT CAST(SUM(s) AS BIGINT) AS st FROM w)
             |SELECT lang, n_docs,
             |  round(CAST(n_docs AS DOUBLE) / N, 6) AS p,
             |  round(CAST(s AS DOUBLE) / st, 6) AS q,
             |  round((CAST(s AS DOUBLE) / st) / (CAST(n_docs AS DOUBLE) / N), 6) AS boost
             |FROM w CROSS JOIN t CROSS JOIN s2 ORDER BY lang""".stripMargin)),

    // ---- x71: contamination-fraction report -------------------------------
    // x47 gates on an absolute shared-shingle count; this reports the
    // per-doc shared FRACTION — the evidence for choosing that
    // threshold. Same broadcast shingle-key join, one extra map-side
    // size(); integer counts + one round(6) ratio, engine-exact.
    QueryDef(
      "x71_contamination_report",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.contaminationReport(
            docs.filter(col("doc_id") % 97 =!= 0),
            docs.filter(col("doc_id") % 97 === 0))
          .orderBy(col("doc_id"))
      },
      Some("""WITH evsh AS (SELECT DISTINCT md5(tok) AS sk FROM (
             |  SELECT unnest(CASE WHEN len(a) >= 5
             |      THEN list_transform(range(1, len(a) - 3), i -> array_to_string(a[i:i+4], ' '))
             |      ELSE [array_to_string(a, ' ')] END) AS tok
             |  FROM (SELECT string_split(text, ' ') AS a FROM documents
             |        WHERE doc_id % 97 = 0) t) u),
             |csh AS (SELECT DISTINCT doc_id, md5(tok) AS sk FROM (
             |  SELECT doc_id, unnest(CASE WHEN len(a) >= 5
             |      THEN list_transform(range(1, len(a) - 3), i -> array_to_string(a[i:i+4], ' '))
             |      ELSE [array_to_string(a, ' ')] END) AS tok
             |  FROM (SELECT doc_id, string_split(text, ' ') AS a FROM documents
             |        WHERE doc_id % 97 != 0) t) u),
             |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM csh GROUP BY doc_id),
             |sh AS (SELECT c.doc_id, COUNT(*) AS n_shared
             |  FROM csh c JOIN evsh e USING (sk) GROUP BY c.doc_id)
             |SELECT s.doc_id, t.n_shingles, s.n_shared,
             |  round(CAST(s.n_shared AS DOUBLE) / t.n_shingles, 6) AS contamination_ratio
             |FROM sh s JOIN tot t USING (doc_id) ORDER BY s.doc_id""".stripMargin)),

    // ---- x70: cluster-aware split assignment (the leakage FIX) ------------
    // x69 detects; this prevents: split by the near-dup CLUSTER label
    // (min member id) so every member lands in one split, singletons
    // hash their own id exactly like x33. Clusters come from RAW LSH
    // candidates — recall over precision for placement (over-merging
    // co-locates harmlessly; a missed pair is leakage). The oracle
    // replays clustering + the shared split CASE over COALESCE(lbl, id).
    QueryDef(
      "x70_split_by_cluster",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val clusters = Dedup.clusterPairs(
          Dedup.lshCandidatePairs(docs, bands = 2, rowsPerBand = 4), rounds = 3)
        graft.ops.Splits.assignSplitByCluster(docs, clusters, "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
          .orderBy(col("split"))
      },
      Some(s"""WITH $lshPairsCtes,
              |${clusterCtes(3)},
              |sp AS (SELECT d.doc_id, ${graft.ops.Splits.assignSplitSql(
                 "COALESCE(l.lbl, d.doc_id)",
                 Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))} AS split
              |  FROM documents d LEFT JOIN l3 l ON l.id = d.doc_id)
              |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs
              |FROM sp GROUP BY 1 ORDER BY split""".stripMargin)),

    // ---- x67: per-source document cap (domain balancing) ------------------
    // The crawl-curation staple: keep at most k documents per source,
    // best quality first (ties by id). Runs through the SALTED two-phase
    // top-k (Ranking.topKPerGroup) so a source holding 10% of the crawl
    // never funnels through one task; the oracle is the plain window —
    // the decomposition must be invisible in the result, ranks included.
    QueryDef(
      "x67_source_cap",
      (s, dir) =>
        Ranking.topKPerGroup(Tables.documents(s, dir), "source", k = 10,
            ord = Seq(TextAnalysis.qualityExpr(col("text")).desc,
              col("doc_id").asc),
            saltCol = col("doc_id"), salts = 4)
          .select(col("doc_id"), col("source"), col("rnk"))
          .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, source, rnk FROM (
              |  SELECT doc_id, source, ROW_NUMBER() OVER (
              |    PARTITION BY source
              |    ORDER BY $qualityExprSql DESC, doc_id) AS rnk
              |  FROM documents) t
              |WHERE rnk <= 10 ORDER BY doc_id""".stripMargin)),

    // ---- x81: semantic benchmark decontamination --------------------------
    // Embedding-space eval-set contamination: the k-means quantizer is
    // trained on the CORPUS slice only (% 13 != 0), the eval slice is
    // assigned to the trained cells, and only same-cell cross-set pairs
    // are cosine-checked — the semantic complement of x47's n-gram gate.
    // The oracle replays the full training (kmeansCtes) plus the
    // eval-side assignment against the final centroids, then the same
    // best-match argmax (max sim, ties to smallest eval id).
    QueryDef(
      "x81_semantic_decontam",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir).filter(col("vec_id") < 2000)
        Similarity.semanticContamination(
            emb.filter(col("vec_id") % 13 =!= 0),
            emb.filter(col("vec_id") % 13 === 0),
            nCells = 8, iters = 2, minCosine = 0.3)
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH ${kmeansCtes(8, 2, "",
               "SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings " +
                 "WHERE vec_id < 2000 AND vec_id % 13 != 0")},
              |ev AS (SELECT vec_id AS eval_id, embedding::DOUBLE[] AS ee
              |  FROM embeddings WHERE vec_id < 2000 AND vec_id % 13 = 0),
              |ea AS (SELECT eval_id, cell, ee FROM (
              |  SELECT v.eval_id, c.cent_id AS cell, v.ee,
              |    ROW_NUMBER() OVER (PARTITION BY v.eval_id
              |      ORDER BY round(list_dot_product(v.ee, c.ce)
              |        / sqrt(list_dot_product(v.ee, v.ee)
              |             * list_dot_product(c.ce, c.ce)), 6) DESC,
              |        c.cent_id ASC) AS rn
              |  FROM ev v CROSS JOIN c2 c) t WHERE rn = 1),
              |p AS (SELECT a.vec_id, e2.eval_id,
              |    round(list_dot_product(a.e, e2.ee)
              |      / sqrt(list_dot_product(a.e, a.e)
              |           * list_dot_product(e2.ee, e2.ee)), 6) AS sim
              |  FROM af a JOIN ea e2 ON a.cell = e2.cell)
              |SELECT vec_id, eval_id, sim FROM (
              |  SELECT vec_id, eval_id, sim, ROW_NUMBER() OVER (
              |    PARTITION BY vec_id ORDER BY sim DESC, eval_id ASC) AS rn
              |  FROM p WHERE sim >= 0.3) t
              |WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    // ---- x82: UniMax token-budget allocation ------------------------------
    // Waterfilling a 70k-token budget across sources at a 3-epoch cap
    // (Chung et al. 2023). The allocation is INTEGER arithmetic end to
    // end (division-free cap test, integer base share + largest-remainder
    // top-up), so both engines agree bitwise; only the final epochs
    // column divides, once, under round(6).
    QueryDef(
      "x82_unimax_budget",
      (s, dir) =>
        Mixing.unimaxBudget(Tables.documents(s, dir), "source",
            budget = 70000L, epochCap = 3)
          .orderBy(col("source")),
      Some("""WITH counts AS (SELECT source,
              |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
              |  FROM documents GROUP BY source),
              |c AS (SELECT source, n_tokens, n_tokens * 3 AS capacity
              |  FROM counts),
              |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY capacity, source) AS rn,
              |    CAST(COALESCE(SUM(capacity) OVER (ORDER BY capacity, source
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |      AS BIGINT) AS pfx,
              |    COUNT(*) OVER () AS g FROM c),
              |f AS (SELECT *,
              |    (capacity * (g - rn + 1) <= 70000 - pfx) AS capped FROM r),
              |t AS (SELECT *,
              |    CAST(SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER ()
              |      AS BIGINT) AS k,
              |    CAST(COALESCE(SUM(CASE WHEN capped THEN capacity END)
              |      OVER (), 0) AS BIGINT) AS pc,
              |    CAST(SUM(CASE WHEN capped THEN 0 ELSE 1 END)
              |      OVER (ORDER BY capacity, source
              |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS BIGINT) AS ur FROM f),
              |a AS (SELECT source, n_tokens, capacity,
              |    CASE WHEN capped THEN capacity
              |    ELSE ((70000 - pc) // (g - k)) +
              |      (CASE WHEN ur <= ((70000 - pc) % (g - k)) THEN 1 ELSE 0 END)
              |    END AS alloc_tokens FROM t)
              |SELECT source, n_tokens, capacity, alloc_tokens,
              |  round(CAST(alloc_tokens AS DOUBLE) / n_tokens, 6) AS epochs
              |FROM a ORDER BY source""".stripMargin)),

    // ---- x83: CCNet perplexity head/middle/tail buckets --------------------
    // Wenzek et al. 2020's coarse quality tiering: per language, exact
    // rank tertiles by LM fluency (x39's unigram logprob), reported as
    // per-(lang, bucket) doc counts + token mass — integers only. The
    // Spark side ranks through the DECOMPOSED per-group rank
    // (Ranking.withGroupRanks); the oracle is the plain per-language
    // window the decomposition must be indistinguishable from.
    QueryDef(
      "x83_ccnet_buckets",
      (s, dir) =>
        TextAnalysis.ccnetBuckets(Tables.documents(s, dir))
          .orderBy(col("lang"), col("bucket")),
      Some(s"""WITH toks AS (SELECT doc_id,
              |    unnest(string_split(text, ' ')) AS tok FROM documents),
              |freq AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
              |total AS (SELECT COUNT(*) AS corpus_n FROM toks),
              |lp AS (SELECT doc_id,
              |    round(SUM(ln(CAST(tf AS DOUBLE) / corpus_n))
              |      / COUNT(*), 6) AS logprob
              |  FROM toks JOIN freq USING (tok) CROSS JOIN total
              |  GROUP BY doc_id),
              |lg AS (SELECT doc_id, $langPredSql AS lang FROM
              |  (SELECT doc_id, $langScoresSql FROM documents) s),
              |nt AS (SELECT doc_id,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
              |  FROM documents),
              |r AS (SELECT lg.lang, nt.n_toks,
              |    ROW_NUMBER() OVER (PARTITION BY lg.lang
              |      ORDER BY lp.logprob DESC, lp.doc_id) AS rnk,
              |    COUNT(*) OVER (PARTITION BY lg.lang) AS nl
              |  FROM lp JOIN lg USING (doc_id) JOIN nt USING (doc_id))
              |SELECT lang,
              |  CASE WHEN rnk * 3 <= nl + 2 THEN 'head'
              |       WHEN rnk * 3 <= nl * 2 + 2 THEN 'middle'
              |       ELSE 'tail' END AS bucket,
              |  CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens
              |FROM r GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin)),

    // ---- x84: cluster-balanced subsample ----------------------------------
    // Diversity-preserving pruning (Sorscher et al. 2022): at most 20
    // vectors per trained k-means cell, kept in deterministic md5-of-id
    // order (an unbiased within-cell shuffle). The Spark side runs the
    // SALTED two-phase cap; the oracle is the plain per-cell window over
    // the same kmeans replay — decomposition must be invisible, ranks
    // included.
    QueryDef(
      "x84_cluster_balanced",
      (s, dir) =>
        Similarity.clusterBalancedSample(
            Tables.embeddings(s, dir).filter(col("vec_id") < 2000),
            nCells = 8, iters = 2, k = 20)
          .orderBy(col("vec_id")),
      Some(kmeansSql(nCells = 8, iters = 2, where = " WHERE vec_id < 2000",
        finalSelect =
          """SELECT vec_id, cell, rnk FROM (
            |  SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY cell
            |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rnk
            |  FROM af) t
            |WHERE rnk <= 20 ORDER BY vec_id""".stripMargin))),

    // ---- x85: MinHash estimator calibration -------------------------------
    // Per LSH candidate pair: the signature-agreement Jaccard estimate
    // (Broder 1997) vs the EXACT shingle-set Jaccard, with abs error —
    // the per-pair evidence behind x64's threshold-level precision. The
    // oracle reuses the shared band-key CTEs (sig carries mh0..mh7,
    // toks the distinct shingles).
    QueryDef(
      "x85_minhash_calibration",
      (s, dir) =>
        Dedup.minhashCalibration(Tables.documents(s, dir),
            bands = 2, rowsPerBand = 4)
          .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $lshPairsCtes,
              |est AS (SELECT p.id_a, p.id_b, CAST(${(0 until 8).map(i =>
                s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)")
                .mkString(" + ")} AS BIGINT) AS n_agree
              |  FROM pairs p JOIN sig a ON a.doc_id = p.id_a
              |  JOIN sig b ON b.doc_id = p.id_b),
              |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks
              |  GROUP BY doc_id),
              |inter AS (SELECT p.id_a, p.id_b, COUNT(*) AS i FROM pairs p
              |  JOIN toks sa ON sa.doc_id = p.id_a
              |  JOIN toks sb ON sb.doc_id = p.id_b AND sb.tok = sa.tok
              |  GROUP BY p.id_a, p.id_b),
              |j AS (SELECT e.id_a, e.id_b, e.n_agree,
              |    round(CAST(e.n_agree AS DOUBLE) / 8, 6) AS est_jaccard,
              |    round(CAST(COALESCE(i.i, 0) AS DOUBLE)
              |      / (za.sz + zb.sz - COALESCE(i.i, 0)), 6) AS jaccard
              |  FROM est e
              |  LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
              |  JOIN sizes za ON za.doc_id = e.id_a
              |  JOIN sizes zb ON zb.doc_id = e.id_b)
              |SELECT id_a, id_b, n_agree, est_jaccard, jaccard,
              |  round(abs(est_jaccard - jaccard), 6) AS abs_err
              |FROM j ORDER BY id_a, id_b""".stripMargin)),

    // ---- x86: perceptual image near-dup (aHash over real pixels) ----------
    // Real 24-bpp BMP pixel decode → integer-exact 8×8 average hash →
    // pigeonhole-banded Hamming pairs. Fixtures: groups of 4 docs share a
    // base pattern (multiplier 31+2·(id div 4)); members differ by sparse
    // deterministic noise — perceptual near-dups the hash must group while
    // different base patterns stay apart (Hamming ≥ 14 by construction vs
    // threshold 11). The oracle replays the pixel FORMULA + the full hash
    // + banding arithmetic in SQL — the decoder's byte walk is pinned by
    // SourcesSpec against the same formula.
    QueryDef(
      "x86_image_neardup",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).filter(col("doc_id") < 200)
          .select(col("doc_id")).as[Long]
          .map(id => graft.ops.MediaDoc(id, "media/image",
            Multimodal.synthBmpNoisy(16, 16,
              mult = (31 + 2 * (id / 4)).toInt, noise = (id % 4).toInt)))
        Dedup.hashNearDupPairs(Multimodal.imageAHashes(media), "phash",
            nBits = 64, nBands = 16, maxHamming = 11, idCol = "doc_id")
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH media AS (SELECT doc_id, 31 + 2 * (doc_id // 4) AS mult,
              |    doc_id % 4 AS noise FROM documents WHERE doc_id < 200),
              |b AS (SELECT doc_id,
              |    ((15 - (o // 48)) // 2) * 8 + ((o % 48) // 3) // 2 AS cell,
              |    CASE WHEN noise > 0 AND (o * 2654435761 + noise) % 101 = 0
              |      THEN 255 ELSE (o * mult) % 256 END AS v
              |  FROM media, range(0, 768) r(o)),
              |sums AS (SELECT doc_id, cell, CAST(SUM(v) AS BIGINT) AS s
              |  FROM b GROUP BY 1, 2),
              |tots AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS t
              |  FROM sums GROUP BY 1),
              |ph AS (SELECT s.doc_id, CAST(SUM(CASE WHEN 64 * s.s <= t.t THEN 0
              |      WHEN s.cell = 63 THEN (-9223372036854775807::BIGINT - 1)
              |      ELSE (1::BIGINT << s.cell) END) AS BIGINT) AS phash
              |  FROM sums s JOIN tots t USING (doc_id) GROUP BY s.doc_id),
              |st AS (SELECT doc_id, phash, bb.band,
              |    (phash >> (bb.band * 4)) & 15 AS bv
              |  FROM ph, range(0, 16) bb(band)),
              |${cappedHammingCtes("st", "p", "phash", "band", "bv", 11)}
              |SELECT id_a, id_b, hamming FROM p
              |ORDER BY id_a, id_b""".stripMargin)),

    // ---- x87: deterministic stride-scheduled interleave -------------------
    // The mixture's consumption order: source g's j-th doc keyed by
    // j/c_g, schedule = ascending sort (stride scheduling) — every
    // source spreads evenly over the run. Spark ranks through BOTH
    // decomposed rank primitives; the oracle is the plain-window form
    // they must be indistinguishable from.
    QueryDef(
      "x87_interleave_schedule",
      (s, dir) =>
        Mixing.interleaveSchedule(Tables.documents(s, dir), "source")
          .orderBy(col("step")),
      Some("""WITH c AS (SELECT source, COUNT(*) AS n FROM documents
              |  GROUP BY source),
              |i AS (SELECT doc_id, source, ROW_NUMBER() OVER (
              |    PARTITION BY source ORDER BY doc_id) AS i FROM documents),
              |k AS (SELECT doc_id, source, i, CAST(i AS DOUBLE) / n AS p
              |  FROM i JOIN c USING (source))
              |SELECT ROW_NUMBER() OVER (ORDER BY p, source, i) AS step,
              |  source, doc_id
              |FROM k ORDER BY step""".stripMargin)),

    // ---- x88: corpus snapshot diff by content -----------------------------
    // Two overlapping snapshot slices (% 5 / % 7 of doc ids) diffed by
    // content digest: added / removed / retained with doc + token mass,
    // counted on the side that has them. One full-outer hash join on
    // uniform md5 digests.
    QueryDef(
      "x88_corpus_diff",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.corpusDiff(
            docs.filter(col("doc_id") % 5 =!= 0),
            docs.filter(col("doc_id") % 7 =!= 0))
          .orderBy(col("status"))
      },
      Some("""WITH o AS (SELECT md5(text) AS h, COUNT(*) AS od,
              |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ot
              |  FROM documents WHERE doc_id % 5 != 0 GROUP BY 1),
              |n AS (SELECT md5(text) AS h, COUNT(*) AS nd,
              |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS nt
              |  FROM documents WHERE doc_id % 7 != 0 GROUP BY 1),
              |j AS (SELECT CASE WHEN o.h IS NULL THEN 'added'
              |    WHEN n.h IS NULL THEN 'removed'
              |    ELSE 'retained' END AS status,
              |    COALESCE(n.nd, o.od) AS d, COALESCE(n.nt, o.ot) AS t
              |  FROM o FULL OUTER JOIN n ON o.h = n.h)
              |SELECT status, CAST(COUNT(*) AS BIGINT) AS n_contents,
              |  CAST(SUM(d) AS BIGINT) AS n_docs,
              |  CAST(SUM(t) AS BIGINT) AS n_tokens
              |FROM j GROUP BY status ORDER BY status""".stripMargin)),

    // ---- x89: audio fingerprint near-dup (energy hash over real PCM) ------
    // Real 16-bit PCM chunk-walk decode → integer-exact 64-window energy
    // hash → pigeonhole-banded Hamming pairs — the audio twin of x86.
    // Fixtures: groups of 4 clips share a 64-segment step tone
    // (multiplier 31+2·(id div 4)); members differ by sparse full-scale
    // noise samples. Verified over the full 200-clip grid: within-group
    // Hamming ≤ 4, cross-group ≥ 5 — threshold 4 keeps exactly the 300
    // within pairs. The oracle replays the sample FORMULA + hash +
    // banding arithmetic in SQL; the decoder's byte walk is pinned by
    // ExtensionSpec against the same formula.
    QueryDef(
      "x89_audio_neardup",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).filter(col("doc_id") < 200)
          .select(col("doc_id")).as[Long]
          .map(id => graft.ops.MediaDoc(id, "media/audio",
            Multimodal.synthWavTone(1024, 16000,
              mult = (31 + 2 * (id / 4)).toInt, noise = (id % 4).toInt)))
        Dedup.hashNearDupPairs(Multimodal.audioAHashes(media), "ahash",
            nBits = 64, nBands = 16, maxHamming = 4, idCol = "doc_id")
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH media AS (SELECT doc_id, 31 + 2 * (doc_id // 4) AS mult,
              |    doc_id % 4 AS noise FROM documents WHERE doc_id < 200),
              |b AS (SELECT doc_id, o // 16 AS cell,
              |    CASE WHEN noise > 0 AND (o * 2654435761 + noise) % 101 = 0
              |      THEN 32767
              |      ELSE abs(((o // 16) * mult * 2654435761) % 65536 - 32768)
              |    END AS e
              |  FROM media, range(0, 1024) r(o)),
              |sums AS (SELECT doc_id, cell, CAST(SUM(e) AS BIGINT) AS s
              |  FROM b GROUP BY 1, 2),
              |tots AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS t
              |  FROM sums GROUP BY 1),
              |ph AS (SELECT s.doc_id, CAST(SUM(CASE WHEN 64 * s.s <= t.t THEN 0
              |      WHEN s.cell = 63 THEN (-9223372036854775807::BIGINT - 1)
              |      ELSE (1::BIGINT << s.cell) END) AS BIGINT) AS ahash
              |  FROM sums s JOIN tots t USING (doc_id) GROUP BY s.doc_id),
              |st AS (SELECT doc_id, ahash, bb.band,
              |    (ahash >> (bb.band * 4)) & 15 AS bv
              |  FROM ph, range(0, 16) bb(band)),
              |${cappedHammingCtes("st", "p", "ahash", "band", "bv", 4)}
              |SELECT id_a, id_b, hamming FROM p
              |ORDER BY id_a, id_b""".stripMargin)),

    // ---- x90: packed-bin segment map (attention spans / loss masks) -------
    // The consumer contract of x49's concat-and-split packing: per-bin
    // fragment spans with head/tail flags — what a trainer turns into
    // attention-segment ids and loss masks. Same capacity as x49 so the
    // two results cross-check (every x49 row reappears as first_bin..
    // last_bin fragments).
    QueryDef(
      "x90_pack_segments",
      (s, dir) =>
        Packing.packSegmentMap(Tables.documents(s, dir), capacity = 256L)
          .orderBy(col("bin"), col("seg_idx")),
      Some("""WITH toks AS (SELECT doc_id,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
              |  FROM documents),
              |offs AS (SELECT doc_id, n,
              |    COALESCE(CAST(SUM(n) OVER (ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              |      AS BIGINT), 0) AS st FROM toks),
              |g AS (SELECT doc_id, n, st,
              |    unnest(range(st // 256, (st + n - 1) // 256 + 1)) AS bin
              |  FROM offs),
              |seg AS (SELECT bin, doc_id,
              |    greatest(st, bin * 256) - bin * 256 AS seg_start,
              |    least(st + n, bin * 256 + 256) - bin * 256 AS seg_end,
              |    CAST(st >= bin * 256 AS INT) AS is_head,
              |    CAST(st + n <= bin * 256 + 256 AS INT) AS is_tail
              |  FROM g)
              |SELECT bin, CAST(ROW_NUMBER() OVER (PARTITION BY bin
              |    ORDER BY seg_start) AS BIGINT) AS seg_idx,
              |  doc_id, seg_start, seg_end, is_head, is_tail
              |FROM seg ORDER BY bin, seg_idx""".stripMargin)),

    // ---- x91: between-source similarity via MERGED MinHash sketches -------
    // Spark merges per-DOCUMENT signatures (elementwise min — the
    // mergeable-sketch path a 100 TB pipeline uses to combine per-shard
    // stats without re-scanning text); the oracle computes each source's
    // signature DIRECTLY from the union of its distinct shingles — so a
    // hash match here is an end-to-end proof of min-merge(sig A, sig B)
    // = sig(A ∪ B), not just a replay.
    QueryDef(
      "x91_source_similarity",
      (s, dir) =>
        Dedup.groupSimilarityByMinhash(Tables.documents(s, dir), k = 8,
            groupCol = "source")
          .orderBy(col("group_a"), col("group_b")),
      Some {
        import graft.ops.Dedup.{MinhashA, MinhashB, MinhashP}
        val mins = (0 until 8).map(i =>
          s"min((hm * ${MinhashA(i)} + ${MinhashB(i)}) % $MinhashP) AS mh$i")
          .mkString(", ")
        val agree = (0 until 8).map(i =>
          s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
        s"""WITH arr AS (SELECT source, string_split(text, ' ') AS a
           |  FROM documents),
           |sh AS (SELECT source, unnest(CASE WHEN len(a) >= 5
           |    THEN list_transform(range(1, len(a) - 3),
           |      i -> array_to_string(a[i:i+4], ' '))
           |    ELSE [array_to_string(a, ' ')] END) AS tok FROM arr),
           |toks AS (SELECT DISTINCT source, tok FROM sh),
           |h AS (SELECT source, ${Dedup.digestModSql("md5h")} AS hm
           |  FROM (SELECT source, md5(tok) AS md5h FROM toks) d),
           |sig AS (SELECT source, $mins FROM h GROUP BY source),
           |p AS (SELECT a.source AS group_a, b.source AS group_b,
           |    CAST($agree AS BIGINT) AS n_agree
           |  FROM sig a JOIN sig b ON a.source < b.source)
           |SELECT group_a, group_b, n_agree,
           |  round(CAST(n_agree AS DOUBLE) / 8, 6) AS est_jaccard
           |FROM p ORDER BY group_a, group_b""".stripMargin
      }),

    // ---- x92: distributed BPE merge induction -----------------------------
    // The tokenizer-training step that produces the vocabulary every
    // token-level op (x25/x49/x55/x82…) consumes. ONE corpus pass builds
    // the word-frequency table; each merge is then an O(vocab) pair-count
    // aggregation plus a 1-row argmax collect (inherently sequential in
    // BPE) and a single engine-portable `replace` that applies the merge
    // greedily left-to-right (see Bpe.scala for the boundary-encoding
    // proof). The oracle replays all 3 iterations unrolled — pair counts,
    // argmax tie-breaks AND the greedy apply must match bitwise.
    QueryDef(
      "x92_bpe_merges",
      (s, dir) =>
        graft.ops.Bpe.learnMerges(Tables.documents(s, dir), nMerges = 3)
          .orderBy(col("step")),
      Some {
        val iters = (1 to 3).map { i =>
          s"""p$i AS (SELECT a[i] AS lhs, a[i+1] AS rhs, SUM(cnt) AS c
             |  FROM (SELECT string_split(trim(seq), '  ') AS a, cnt FROM w${i - 1}) t,
             |  LATERAL unnest(range(1, len(a))) u(i)
             |  WHERE len(a) >= 2 GROUP BY 1, 2),
             |m$i AS (SELECT lhs, rhs, c FROM p$i ORDER BY c DESC, lhs, rhs LIMIT 1),
             |w$i AS (SELECT replace(seq, ' ' || lhs || '  ' || rhs || ' ',
             |    ' ' || lhs || rhs || ' ') AS seq, cnt
             |  FROM w${i - 1} CROSS JOIN m$i)""".stripMargin
        }.mkString(",\n")
        s"""WITH words AS (SELECT w, COUNT(*) AS cnt
           |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
           |  WHERE w <> '' GROUP BY w),
           |w0 AS (SELECT ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS seq,
           |    cnt FROM words),
           |$iters
           |SELECT * FROM (
           |  SELECT 1 AS step, lhs, rhs, CAST(c AS BIGINT) AS pair_count FROM m1
           |  UNION ALL SELECT 2, lhs, rhs, CAST(c AS BIGINT) FROM m2
           |  UNION ALL SELECT 3, lhs, rhs, CAST(c AS BIGINT) FROM m3)
           |ORDER BY step""".stripMargin
      }),

    // ---- x93: per-document n-gram novelty (memorization risk) -------------
    // Fraction of each doc's distinct 8-gram shingles that occur in some
    // OTHER document — the per-doc signal that flags boilerplate and
    // near-copy mass a model would memorize cheapest. Map-side
    // array_distinct into one digest pass, doc frequency as a COUNT
    // window over the digest riding the same exchange, then the per-doc
    // rollup — two exchanges total, no join, no self-join, no pairs
    // (TextAnalysis.ngramNovelty, round-19 rewrite).
    QueryDef(
      "x93_ngram_novelty",
      (s, dir) =>
        TextAnalysis.ngramNovelty(Tables.documents(s, dir), shingleN = 8)
          .orderBy(col("doc_id")),
      Some("""WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
             |sh AS (SELECT doc_id, unnest(CASE WHEN len(a) >= 8
             |    THEN list_transform(range(1, len(a) - 6),
             |      i -> array_to_string(a[i:i+7], ' '))
             |    ELSE [array_to_string(a, ' ')] END) AS tok FROM arr),
             |dsh AS (SELECT DISTINCT doc_id, md5(tok) AS d FROM sh),
             |f AS (SELECT d, COUNT(*) AS df FROM dsh GROUP BY d)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
             |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
             |  round(1.0 - CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
             |FROM dsh JOIN f USING (d)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- x94: per-source percentile quality gate --------------------------
    // Keep each source's top 3/4 by the x07 quality score — the
    // calibrated-threshold variant of the fixed-cut gate (a fixed 0.3
    // threshold keeps different fractions of different sources; corpus
    // curation usually wants a per-source percentile). Rank runs through
    // the decomposed per-group primitive; the cut is pure integer
    // arithmetic (rank·4 <= n·3), no float percentile estimation.
    QueryDef(
      "x94_quality_gate",
      (s, dir) =>
        TextAnalysis.qualityPercentileGate(Tables.documents(s, dir),
            keepNum = 3, keepDen = 4)
          .orderBy(col("doc_id")),
      Some(s"""WITH q AS (SELECT doc_id, source, $qualityExprSql AS _q
              |  FROM documents),
              |r AS (SELECT doc_id, source,
              |    ROW_NUMBER() OVER (PARTITION BY source
              |      ORDER BY _q DESC, doc_id ASC) AS qrank,
              |    COUNT(*) OVER (PARTITION BY source) AS n FROM q)
              |SELECT doc_id, source, CAST(qrank AS BIGINT) AS qrank
              |FROM r WHERE qrank * 4 <= n * 3 ORDER BY doc_id""".stripMargin)),

    // ---- x95: KMV distinct-cardinality sketches (mergeable) ---------------
    // Per-source distinct-token estimates from k-minimum-values sketches,
    // plus the `__all__` row merged FROM the per-source sketches; the
    // oracle computes the merged sketch directly from the corpus — the
    // hash match proves merge(sketch A, sketch B) = sketch(A ∪ B)
    // end-to-end (x91's mergeability contract, for cardinality). Exact
    // counts ride alongside for error inspection.
    QueryDef(
      "x95_kmv_distinct",
      (s, dir) =>
        graft.ops.Sketches.kmvReport(Tables.documents(s, dir), k = 64)
          .orderBy(col("source")),
      Some {
        val hv = TextAnalysis.hexToIntSql("md5(tok)", 8)
        val est = """CASE WHEN n_sketch < 64 THEN CAST(n_sketch AS DOUBLE)
                    |    ELSE round(63 * 4294967296.0 / CAST(kth_hash AS DOUBLE), 6)
                    |    END AS kmv_estimate""".stripMargin
        s"""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
           |  FROM documents),
           |dh AS (SELECT DISTINCT source, $hv AS hv FROM toks),
           |rk AS (SELECT source, hv,
           |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rn FROM dh),
           |sk AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sketch,
           |    MAX(hv) AS kth_hash FROM rk WHERE rn <= 64 GROUP BY source),
           |ex AS (SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_exact
           |  FROM toks GROUP BY source),
           |adh AS (SELECT DISTINCT hv FROM dh),
           |ark AS (SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn FROM adh),
           |ask AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sketch,
           |    MAX(hv) AS kth_hash FROM ark WHERE rn <= 64),
           |aex AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_exact FROM toks)
           |SELECT * FROM (
           |  SELECT s.source, n_sketch, kth_hash, $est, n_exact
           |  FROM sk s JOIN ex USING (source)
           |  UNION ALL
           |  SELECT '__all__' AS source, n_sketch, kth_hash, $est, n_exact
           |  FROM ask CROSS JOIN aex)
           |ORDER BY source""".stripMargin
      }),

    // ---- x96: exact inter-source shingle-overlap matrix -------------------
    // The ground-truth twin of x91's sketch estimate: exact intersection,
    // Jaccard AND containment per source pair — containment finds mirror
    // crawls (one source a subset of another) that size-diluted Jaccard
    // hides. One corpus-scale exchange: the shingle pass aggregates
    // straight into per-digest sorted source SETS (collect_set, map-side
    // partial agg), every a<b pair expands MAP-SIDE from the set, and
    // the rollup is O(sources²) (Dedup.sourceOverlapMatrix, round-19
    // rewrite — no distinct table, no digest self-join).
    QueryDef(
      "x96_source_overlap",
      (s, dir) =>
        Dedup.sourceOverlapMatrix(Tables.documents(s, dir), shingleN = 5)
          .orderBy(col("source_a"), col("source_b")),
      Some("""WITH arr AS (SELECT source, string_split(text, ' ') AS a FROM documents),
             |sh AS (SELECT source, unnest(CASE WHEN len(a) >= 5
             |    THEN list_transform(range(1, len(a) - 3),
             |      i -> array_to_string(a[i:i+4], ' '))
             |    ELSE [array_to_string(a, ' ')] END) AS tok FROM arr),
             |d AS (SELECT DISTINCT source AS g, md5(tok) AS d FROM sh),
             |sz AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS sz FROM d GROUP BY g),
             |i AS (SELECT a.g AS source_a, b.g AS source_b,
             |    CAST(COUNT(*) AS BIGINT) AS n_inter
             |  FROM d a JOIN d b ON a.d = b.d AND a.g < b.g GROUP BY 1, 2)
             |SELECT source_a, source_b, n_inter,
             |  round(CAST(n_inter AS DOUBLE)
             |    / CAST(za.sz + zb.sz - n_inter AS DOUBLE), 6) AS jaccard,
             |  round(CAST(n_inter AS DOUBLE)
             |    / CAST(least(za.sz, zb.sz) AS DOUBLE), 6) AS containment
             |FROM i JOIN sz za ON za.g = source_a JOIN sz zb ON zb.g = source_b
             |ORDER BY source_a, source_b""".stripMargin)),

    // ---- x97: line-level quality curation (C4/FineWeb line filter) --------
    // Integer-exact per-line gates (length, repetition, short-token mass)
    // over x48-convention 5-word lines; docs rebuilt from surviving lines
    // in order and dropped entirely below a 3/4 retention floor. Two
    // map-side passes, no joins/windows; per-doc collect_list is bounded
    // by the doc's own line count and array_sort makes the re-assembly
    // arrival-order-proof.
    QueryDef(
      "x97_line_quality",
      (s, dir) =>
        TextAnalysis.lineQualityCuration(Tables.documents(s, dir))
          .orderBy(col("doc_id")),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |lines AS (SELECT doc_id, i AS line_no, t[(i*5+1):(i*5+5)] AS lw
             |  FROM toks, LATERAL unnest(
             |    range(0, CAST(ceil(len(t)/5.0) AS BIGINT))) u(i)),
             |flagged AS (SELECT doc_id, line_no, array_to_string(lw, ' ') AS line,
             |    (len(lw) >= 3 AND 5*len(list_distinct(lw)) >= 4*len(lw)
             |      AND 2*len(list_filter(lw, x -> length(x) = 1)) < len(lw)) AS keep
             |  FROM lines),
             |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
             |    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |    coalesce(string_agg(CASE WHEN keep THEN line END, ' '
             |      ORDER BY line_no), '') AS clean_text
             |  FROM flagged GROUP BY doc_id)
             |SELECT doc_id, n_lines, n_kept, clean_text FROM agg
             |WHERE n_kept * 4 >= n_lines * 3 ORDER BY doc_id""".stripMargin)),

    // ---- x98: BPE tokenizer audit (learn + segment + per-source report) ---
    // x92's learned merges applied to the DISTINCT vocabulary, then joined
    // back to per-source word counts: total words/chars/tokens and
    // chars-per-token per source — the compression number a tokenizer team
    // tracks per data source. Corpus touched twice (learn pass + source
    // word counts); merge application is O(vocab).
    QueryDef(
      "x98_bpe_tokenize",
      (s, dir) =>
        graft.ops.Bpe.tokenizeReport(Tables.documents(s, dir), nMerges = 3)
          .orderBy(col("source")),
      Some {
        val iters = (1 to 3).map { i =>
          s"""p$i AS (SELECT a[i] AS lhs, a[i+1] AS rhs, SUM(cnt) AS c
             |  FROM (SELECT string_split(trim(seq), '  ') AS a, cnt FROM w${i - 1}) t,
             |  LATERAL unnest(range(1, len(a))) u(i)
             |  WHERE len(a) >= 2 GROUP BY 1, 2),
             |m$i AS (SELECT lhs, rhs FROM p$i ORDER BY c DESC, lhs, rhs LIMIT 1),
             |w$i AS (SELECT w, replace(seq, ' ' || lhs || '  ' || rhs || ' ',
             |    ' ' || lhs || rhs || ' ') AS seq, cnt
             |  FROM w${i - 1} CROSS JOIN m$i)""".stripMargin
        }.mkString(",\n")
        s"""WITH sw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cnt
           |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
           |        FROM documents) t
           |  WHERE w <> '' GROUP BY 1, 2),
           |cw AS (SELECT w, SUM(cnt) AS cnt FROM sw GROUP BY w),
           |w0 AS (SELECT w,
           |    ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS seq,
           |    cnt FROM cw),
           |$iters,
           |tok AS (SELECT w,
           |    CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS ntok
           |  FROM w3)
           |SELECT source, CAST(SUM(cnt) AS BIGINT) AS total_words,
           |  CAST(SUM(cnt * length(w)) AS BIGINT) AS total_chars,
           |  CAST(SUM(cnt * ntok) AS BIGINT) AS total_tokens,
           |  round(CAST(SUM(cnt * length(w)) AS DOUBLE)
           |    / CAST(SUM(cnt * ntok) AS DOUBLE), 6) AS chars_per_token
           |FROM sw JOIN tok USING (w)
           |GROUP BY source ORDER BY source""".stripMargin
      }),

    // ---- x99: per-label centroid outliers (exact-integer centroids) -------
    // Bottom-10 of each label by cosine to the label's mean vector. The
    // centroid is exact-integer (quantized longs, order-independent group
    // sums; scaling cancels inside the cosine), so the result is
    // bit-reproducible under any partitioning — the property that makes a
    // distributed outlier audit trustworthy. Salted two-phase top-k; the
    // labels·dim centroid table broadcasts.
    QueryDef(
      "x99_centroid_outliers",
      (s, dir) =>
        Similarity.centroidOutliers(Tables.embeddings(s, dir), "label",
            bottomK = 10)
          .orderBy(col("label"), col("rk")),
      Some("""WITH v AS (SELECT vec_id, label,
             |    list_transform(embedding::DOUBLE[],
             |      x -> CAST(round(x * 10000) AS BIGINT)) AS qv
             |  FROM embeddings),
             |p AS (SELECT vec_id, label, i AS pos, qv[i + 1] AS v
             |  FROM v, LATERAL unnest(range(0, len(qv))) u(i)),
             |cent AS (SELECT label, pos, SUM(v) AS cs FROM p GROUP BY 1, 2),
             |cn AS (SELECT label, SUM(cs * cs) AS cc FROM cent GROUP BY 1),
             |d AS (SELECT vec_id, p.label, SUM(v * cs) AS dot, SUM(v * v) AS qq
             |  FROM p JOIN cent USING (label, pos) GROUP BY 1, 2),
             |s AS (SELECT label, vec_id,
             |    round(CAST(dot AS DOUBLE)
             |      / (sqrt(CAST(qq AS DOUBLE)) * sqrt(CAST(cc AS DOUBLE))), 6)
             |      AS cos_centroid
             |  FROM d JOIN cn USING (label))
             |SELECT label, vec_id, cos_centroid, rk FROM (
             |  SELECT label, vec_id, cos_centroid, ROW_NUMBER() OVER (
             |    PARTITION BY label ORDER BY cos_centroid ASC, vec_id) AS rk
             |  FROM s) t
             |WHERE rk <= 10 ORDER BY label, rk""".stripMargin)),

    // ---- x100: contrastive hard-negative mining ---------------------------
    // Per anchor, the top-3 highest-cosine DIFFERENT-label vectors among
    // its sign-LSH bucket mates (x11's deterministic md5 planes) — the
    // pairs a contrastive trainer wants. Bucket equi-join keeps the
    // cross product unmaterialized; salted two-phase per-anchor top-k.
    QueryDef(
      "x100_hard_negatives",
      (s, dir) =>
        Similarity.hardNegativeMining(Tables.embeddings(s, dir), "label",
            nPlanes = 6, dim = 64, k = 3)
          .orderBy(col("anchor_id"), col("rk")),
      Some(s"""WITH b AS (SELECT vec_id, label, embedding::DOUBLE[] AS e,
              |    ${lshBucketSql(6, 64, "embedding::DOUBLE[]")} AS bucket
              |  FROM embeddings),
              |c AS (SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
              |    n.vec_id AS neg_id, n.label AS neg_label,
              |    round(list_dot_product(a.e, n.e)
              |      / sqrt(list_dot_product(a.e, a.e)
              |             * list_dot_product(n.e, n.e)), 6) AS sim
              |  FROM b a JOIN b n
              |    ON a.bucket = n.bucket AND a.label <> n.label)
              |SELECT anchor_id, anchor_label, neg_id, neg_label, sim, rk
              |FROM (SELECT c.*, ROW_NUMBER() OVER (PARTITION BY anchor_id
              |    ORDER BY sim DESC, neg_id) AS rk FROM c) t
              |WHERE rk <= 3 ORDER BY anchor_id, rk""".stripMargin)),

    // ---- x101: KMV sketch snapshot diff -----------------------------------
    // "How many new tokens did this crawl add?" answered from per-snapshot
    // k-min sketches alone: the union estimate merges the two sketches
    // (KMV merge property — the oracle computes the union k-min DIRECTLY
    // from all distinct hashes, so the bitwise gate proves mergeability).
    // Snapshots follow x88's doc_id-residue convention; exact counts ride
    // along as the audit twin.
    QueryDef(
      "x101_sketch_diff",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.ops.Sketches.kmvSnapshotDiff(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 7 =!= 0), k = 64)
      },
      Some {
        val hv = TextAnalysis.hexToIntSql("md5(tok)", 8)
        def est(pfx: String) =
          s"""CASE WHEN ${pfx}n < 64 THEN CAST(${pfx}n AS DOUBLE)
             |    ELSE round(63 * 4294967296.0 / CAST(${pfx}kth AS DOUBLE), 6)
             |    END""".stripMargin
        s"""WITH toks AS (
           |  SELECT 'old' AS snap, unnest(string_split(text, ' ')) AS tok
           |    FROM documents WHERE doc_id % 5 != 0
           |  UNION ALL
           |  SELECT 'new', unnest(string_split(text, ' '))
           |    FROM documents WHERE doc_id % 7 != 0),
           |dh AS (SELECT DISTINCT snap, $hv AS hv FROM toks),
           |rk AS (SELECT snap, hv,
           |    ROW_NUMBER() OVER (PARTITION BY snap ORDER BY hv) AS rn FROM dh),
           |sk AS (SELECT snap, CAST(COUNT(*) AS BIGINT) AS n, MAX(hv) AS kth
           |  FROM rk WHERE rn <= 64 GROUP BY snap),
           |udh AS (SELECT DISTINCT hv FROM dh),
           |urk AS (SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn FROM udh),
           |usk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, MAX(hv) AS kth
           |  FROM urk WHERE rn <= 64),
           |ex AS (SELECT snap, CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_exact
           |  FROM toks GROUP BY snap),
           |uex AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_exact
           |  FROM toks),
           |w AS (SELECT
           |    (SELECT ${est("")} FROM sk WHERE snap = 'old') AS est_old,
           |    (SELECT ${est("")} FROM sk WHERE snap = 'new') AS est_new,
           |    (SELECT ${est("")} FROM usk) AS est_union,
           |    (SELECT n_exact FROM ex WHERE snap = 'old') AS exact_old,
           |    (SELECT n_exact FROM ex WHERE snap = 'new') AS exact_new,
           |    (SELECT n_exact FROM uex) AS exact_union)
           |SELECT est_old, est_new, est_union,
           |  round(est_union - est_old, 6) AS est_added,
           |  round(est_union - est_new, 6) AS est_removed,
           |  exact_old, exact_new, exact_union FROM w""".stripMargin
      }),

    // ---- x102: token-budgeted training schedule ---------------------------
    // x82's waterfilled allocations realized as an actual consumption
    // order: full epochs + a doc-granular prefix epoch per source (never
    // over budget), stride-interleaved so a small source's epochs spread
    // across the run. The oracle replays the whole composition — the
    // integer waterfilling closed form, the per-source prefix sums, the
    // epoch explode, and the stride sort — in plain windows, proving
    // every decomposed Spark stage (group prefix sums, global rank)
    // indistinguishable from the single-window semantics.
    QueryDef(
      "x102_budget_schedule",
      (s, dir) =>
        Mixing.budgetedSchedule(Tables.documents(s, dir), "source",
            budget = 60000L, epochCap = 2)
          .orderBy(col("step")),
      Some("""WITH counts AS (SELECT source,
             |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY source),
             |c AS (SELECT source, n_tokens, n_tokens * 2 AS capacity
             |  FROM counts),
             |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY capacity, source) AS rn,
             |    CAST(COALESCE(SUM(capacity) OVER (ORDER BY capacity, source
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS pfx,
             |    COUNT(*) OVER () AS g FROM c),
             |f AS (SELECT *,
             |    (capacity * (g - rn + 1) <= 60000 - pfx) AS capped FROM r),
             |t AS (SELECT *,
             |    CAST(SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER ()
             |      AS BIGINT) AS k,
             |    CAST(COALESCE(SUM(CASE WHEN capped THEN capacity END)
             |      OVER (), 0) AS BIGINT) AS pc,
             |    CAST(SUM(CASE WHEN capped THEN 0 ELSE 1 END)
             |      OVER (ORDER BY capacity, source
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS ur FROM f),
             |a AS (SELECT source, n_tokens,
             |    CASE WHEN capped THEN capacity
             |    ELSE ((60000 - pc) // (g - k)) +
             |      (CASE WHEN ur <= ((60000 - pc) % (g - k)) THEN 1 ELSE 0 END)
             |    END AS alloc_tokens FROM t),
             |dt AS (SELECT source, doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
             |  FROM documents),
             |pre AS (SELECT source, doc_id, tok,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
             |      AS BIGINT) AS i,
             |    CAST(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ctok FROM dt),
             |j AS (SELECT p.source, p.doc_id, p.i, p.ctok,
             |    a.alloc_tokens // a.n_tokens AS fullep,
             |    a.alloc_tokens % a.n_tokens AS part
             |  FROM pre p JOIN a USING (source)),
             |cn AS (SELECT source, MAX(i) AS nd,
             |    CAST(SUM(CASE WHEN ctok <= part THEN 1 ELSE 0 END)
             |      AS BIGINT) AS np,
             |    MAX(fullep) AS f FROM j GROUP BY source),
             |sched AS (SELECT j.source, j.doc_id, u.e AS epoch,
             |    (u.e * cn.nd + j.i) AS jj, (cn.f * cn.nd + cn.np) AS ns
             |  FROM j JOIN cn USING (source),
             |  LATERAL unnest(range(0, j.fullep + 1)) u(e)
             |  WHERE u.e < j.fullep OR j.ctok <= j.part)
             |SELECT CAST(ROW_NUMBER() OVER (
             |    ORDER BY CAST(jj AS DOUBLE) / ns, source, jj) AS BIGINT)
             |    AS step,
             |  source, doc_id, epoch
             |FROM sched ORDER BY step""".stripMargin)),

    // ---- x103: snapshot vocabulary drift (Jensen–Shannon) -----------------
    // Crawl-over-crawl distribution-shift monitor: JS divergence of the
    // two snapshots' unigram distributions + vocabulary turnover. Exact
    // integer counts; per-token JS terms rounded to 12 decimals and
    // DECIMAL-summed, so the cross-token log-space reduction is
    // order-independent and engine-exact. One full-outer hash join on
    // uniform token keys; snapshots follow the x88 residue convention.
    QueryDef(
      "x103_vocab_drift",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        TextAnalysis.vocabDrift(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 7 =!= 0))
      },
      Some("""WITH o AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS oc FROM (
             |    SELECT unnest(string_split(text, ' ')) AS tok
             |    FROM documents WHERE doc_id % 5 != 0) t GROUP BY tok),
             |n AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS nc FROM (
             |    SELECT unnest(string_split(text, ' ')) AS tok
             |    FROM documents WHERE doc_id % 7 != 0) t GROUP BY tok),
             |j AS (SELECT COALESCE(o.oc, 0) AS oc, COALESCE(n.nc, 0) AS nc
             |  FROM o FULL OUTER JOIN n USING (tok)),
             |tt AS (SELECT CAST(SUM(oc) AS BIGINT) AS ot,
             |    CAST(SUM(nc) AS BIGINT) AS nt FROM j),
             |terms AS (SELECT oc, nc, ot, nt,
             |    CAST(round(0.5 * (
             |      CASE WHEN oc > 0 THEN (oc / CAST(ot AS DOUBLE))
             |        * ln((oc / CAST(ot AS DOUBLE)) * 2.0
             |          / ((oc / CAST(ot AS DOUBLE)) + (nc / CAST(nt AS DOUBLE))))
             |        ELSE 0.0 END +
             |      CASE WHEN nc > 0 THEN (nc / CAST(nt AS DOUBLE))
             |        * ln((nc / CAST(nt AS DOUBLE)) * 2.0
             |          / ((oc / CAST(ot AS DOUBLE)) + (nc / CAST(nt AS DOUBLE))))
             |        ELSE 0.0 END), 12) AS DECIMAL(28,12)) AS jst
             |  FROM j CROSS JOIN tt)
             |SELECT MAX(ot) AS tokens_old, MAX(nt) AS tokens_new,
             |  CAST(SUM(CASE WHEN oc > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS vocab_old,
             |  CAST(SUM(CASE WHEN nc > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS vocab_new,
             |  CAST(SUM(CASE WHEN oc > 0 AND nc > 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS vocab_shared,
             |  round(CAST(SUM(jst) AS DOUBLE), 6) AS js_divergence
             |FROM terms""".stripMargin)),

    // ---- x104: embedding-table health audit -------------------------------
    // The validation gate before any ANN stage: per label, null /
    // wrong-dim / non-finite / zero-norm counts plus the valid-vector
    // norm range (the same sequential fold the similarity operators use,
    // so the range is bit-identical to what they will see). Map-only +
    // one map-side-combinable agg.
    QueryDef(
      "x104_embedding_audit",
      (s, dir) =>
        Similarity.embeddingAudit(Tables.embeddings(s, dir), expectedDim = 64)
          .orderBy(col("label")),
      Some("""WITH v AS (SELECT label, embedding::DOUBLE[] AS e,
             |    embedding IS NULL AS isn,
             |    embedding IS NOT NULL AND len(embedding) != 64 AS wd,
             |    embedding IS NOT NULL AND len(list_filter(embedding::DOUBLE[],
             |      x -> isnan(x) OR isinf(x))) > 0 AS nf
             |  FROM embeddings),
             |s AS (SELECT label, isn, wd, nf,
             |    (NOT isn AND NOT wd AND NOT nf) AS valid,
             |    CASE WHEN (NOT isn AND NOT wd AND NOT nf)
             |      THEN sqrt(list_dot_product(e, e)) END AS nrm FROM v)
             |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CASE WHEN isn THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             |  CAST(SUM(CASE WHEN wd THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_wrong_dim,
             |  CAST(SUM(CASE WHEN nf THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_nonfinite,
             |  CAST(SUM(CASE WHEN valid AND nrm = 0.0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_zero_norm,
             |  round(MIN(nrm), 6) AS min_norm,
             |  round(MAX(nrm), 6) AS max_norm
             |FROM s GROUP BY label ORDER BY label""".stripMargin)),

    // ---- x105: curation pipeline with the line-quality pre-stage ----------
    // x97 composed INTO the one-call pipeline: the corpus entering
    // quality→dedup→decontaminate→shard is each document's re-assembled
    // surviving lines (3/4 floor). The line stage is map-only so the
    // pipeline's shuffle count is unchanged; the oracle replays all
    // seven stages including the line gates.
    QueryDef(
      "x105_curation_lines",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val lineClean = TextAnalysis
          .lineQualityCuration(docs.filter(col("doc_id") % 97 =!= 0))
          .select(col("doc_id"), col("clean_text").as("text"))
        Pipeline.shardAssignment(
            Pipeline.curate(lineClean, docs.filter(col("doc_id") % 97 === 0)),
            docsPerShard = 64L)
          .select(col("doc_id"), col("shard"))
          .orderBy(col("doc_id"))
      },
      Some(curationSql(semantic = false, lines = true))),

    // ---- x106: per-source curation funnel ---------------------------------
    // WHICH source loses its mass to WHICH gate: per-source survivor
    // counts through quality → exact → verified near-dup →
    // decontamination, over the same materialized stage sets the
    // pipeline itself computes (no extra corpus pass). The oracle
    // replays the identical stage CTEs and counts per source.
    QueryDef(
      "x106_curation_funnel",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Pipeline.curationFunnel(
            docs.filter(col("doc_id") % 97 =!= 0),
            docs.filter(col("doc_id") % 97 === 0))
          .orderBy(col("source"))
      },
      Some(curationFunnelSql)),

    // ---- x107: the drop ledger --------------------------------------------
    // "Where did my document go?": one row per rejected doc with the
    // gate and (for dup gates) the keeper it lost to. Same stage
    // semantics as x35/x54/x106 — the oracle reuses the identical CTEs
    // and derives each reason set from them.
    QueryDef(
      "x107_curation_ledger",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Pipeline.curationLedger(
            docs.filter(col("doc_id") % 97 =!= 0),
            docs.filter(col("doc_id") % 97 === 0))
          .orderBy(col("doc_id"), col("reason"))
      },
      Some(s"""${curationCtes(semantic = false)}
              |SELECT c.doc_id, 'quality' AS reason,
              |    CAST(NULL AS BIGINT) AS keeper
              |  FROM corpus c
              |  WHERE c.doc_id NOT IN (SELECT doc_id FROM good)
              |UNION ALL
              |SELECT g.doc_id, 'exact_dup', k.keeper FROM good g
              |  JOIN (SELECT md5(text) AS h, MIN(doc_id) AS keeper
              |        FROM good GROUP BY 1) k ON md5(g.text) = k.h
              |  WHERE g.doc_id <> k.keeper
              |UNION ALL
              |SELECT id, 'near_dup', lbl FROM l3 WHERE lbl <> id
              |UNION ALL
              |SELECT doc_id, 'contaminated', CAST(NULL AS BIGINT) FROM contam
              |ORDER BY doc_id, reason""".stripMargin)),

    // ---- x108: exact per-source length percentiles ------------------------
    // The packing/batching tuning report: p50/p90/p99 tokens-per-doc per
    // source as ORDER STATISTICS (value at rank ceil(q·n/100) under a
    // total order) — integer-exact, no interpolation, no float
    // disagreement. Decomposed per-source rank (no window funnel) + an
    // O(sources) size broadcast + a division-free rank-set filter.
    QueryDef(
      "x108_length_percentiles",
      (s, dir) =>
        TextAnalysis.lengthPercentiles(Tables.documents(s, dir))
          .orderBy(col("source"), col("pct")),
      Some("""WITH c AS (SELECT source, doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY n_tokens, doc_id) AS BIGINT) AS rk,
             |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
             |  FROM c)
             |SELECT source, CAST(pct AS BIGINT) AS pct,
             |  MIN(n_tokens) AS n_tokens
             |FROM r, LATERAL unnest([50, 90, 99]) u(pct)
             |WHERE rk * 100 >= pct * n AND (rk - 1) * 100 < pct * n
             |GROUP BY source, pct ORDER BY source, pct""".stripMargin)),

    // ---- x109: cross-modal near-dup clusters ------------------------------
    // Text-LSH pairs and image-aHash pairs (x86's real-BMP fixture)
    // unioned into ONE edge graph, min-label propagated — a doc joins a
    // cluster when ANY modality links it. Union + propagation run on the
    // distilled edge lists only; each pair source keeps its own
    // bucketed scale shape.
    QueryDef(
      "x109_crossmodal_clusters",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir).filter(col("doc_id") < 200)
        val tpairs = Dedup.lshCandidatePairs(docs, bands = 2, rowsPerBand = 4)
        val media = docs.select(col("doc_id")).as[Long]
          .map(id => graft.ops.MediaDoc(id, "media/image",
            Multimodal.synthBmpNoisy(16, 16,
              mult = (31 + 2 * (id / 4)).toInt, noise = (id % 4).toInt)))
        val ipairs = Dedup.hashNearDupPairs(Multimodal.imageAHashes(media),
          "phash", nBits = 64, nBands = 16, maxHamming = 11, idCol = "doc_id")
        Dedup.multiSignalClusters(Seq(tpairs, ipairs), rounds = 3)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ${bandKeyCtes("", " WHERE doc_id < 200")},
              |${cappedPairCtes("stacked", "tpairs", materialized = true)},
              |media AS (SELECT doc_id, 31 + 2 * (doc_id // 4) AS mult,
              |    doc_id % 4 AS noise FROM documents WHERE doc_id < 200),
              |ib AS (SELECT doc_id,
              |    ((15 - (o // 48)) // 2) * 8 + ((o % 48) // 3) // 2 AS cell,
              |    CASE WHEN noise > 0 AND (o * 2654435761 + noise) % 101 = 0
              |      THEN 255 ELSE (o * mult) % 256 END AS v
              |  FROM media, range(0, 768) r(o)),
              |isums AS (SELECT doc_id, cell, CAST(SUM(v) AS BIGINT) AS s
              |  FROM ib GROUP BY 1, 2),
              |itots AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS t
              |  FROM isums GROUP BY 1),
              |iph AS (SELECT s.doc_id, CAST(SUM(CASE WHEN 64 * s.s <= t.t THEN 0
              |      WHEN s.cell = 63 THEN (-9223372036854775807::BIGINT - 1)
              |      ELSE (1::BIGINT << s.cell) END) AS BIGINT) AS phash
              |  FROM isums s JOIN itots t USING (doc_id) GROUP BY s.doc_id),
              |ist AS (SELECT doc_id, phash, bb.band,
              |    (phash >> (bb.band * 4)) & 15 AS bv
              |  FROM iph, range(0, 16) bb(band)),
              |${cappedHammingCtes("ist", "ipairs", "phash", "band", "bv", 11)},
              |upairs AS MATERIALIZED (
              |  SELECT id_a, id_b FROM tpairs
              |  UNION SELECT id_a, id_b FROM ipairs),
              |${clusterCtes(3, "u", "upairs")}
              |SELECT id AS doc_id, lbl AS cluster FROM ul3
              |ORDER BY doc_id""".stripMargin)),

    // ---- x110: contrastive (anchor, positive, negative) triples -----------
    // x100 completed: per anchor, the best same-label bucket mate AND
    // the best different-label bucket mate, full-outer-paired so anchors
    // with only one side keep their row (nulls mark the gap). One bucket
    // equi-join feeds both top-1 passes.
    QueryDef(
      "x110_contrastive_pairs",
      (s, dir) =>
        Similarity.contrastivePairs(Tables.embeddings(s, dir), "label",
            nPlanes = 6, dim = 64)
          .orderBy(col("anchor_id")),
      Some(s"""WITH b AS (SELECT vec_id, label, embedding::DOUBLE[] AS e,
              |    ${lshBucketSql(6, 64, "embedding::DOUBLE[]")} AS bucket
              |  FROM embeddings),
              |m AS (SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
              |    n.vec_id AS mate_id, n.label AS mate_label,
              |    round(list_dot_product(a.e, n.e)
              |      / sqrt(list_dot_product(a.e, a.e)
              |             * list_dot_product(n.e, n.e)), 6) AS sim
              |  FROM b a JOIN b n
              |    ON a.bucket = n.bucket AND a.vec_id <> n.vec_id),
              |pos AS (SELECT anchor_id, anchor_label, mate_id AS pos_id,
              |    sim AS pos_sim FROM (
              |  SELECT m.*, ROW_NUMBER() OVER (PARTITION BY anchor_id
              |      ORDER BY sim DESC, mate_id) AS rk
              |  FROM m WHERE anchor_label = mate_label) t WHERE rk = 1),
              |neg AS (SELECT anchor_id, anchor_label, mate_id AS neg_id,
              |    sim AS neg_sim FROM (
              |  SELECT m.*, ROW_NUMBER() OVER (PARTITION BY anchor_id
              |      ORDER BY sim DESC, mate_id) AS rk
              |  FROM m WHERE anchor_label <> mate_label) t WHERE rk = 1)
              |SELECT COALESCE(p.anchor_id, n.anchor_id) AS anchor_id,
              |  COALESCE(p.anchor_label, n.anchor_label) AS anchor_label,
              |  p.pos_id, p.pos_sim, n.neg_id, n.neg_sim
              |FROM pos p FULL OUTER JOIN neg n
              |  ON p.anchor_id = n.anchor_id
              |ORDER BY anchor_id""".stripMargin)),

    // ---- x111: per-source boilerplate line removal ------------------------
    // The complement of x48's keep-first line dedup: template lines
    // (navigation, footers) appearing in >= 2 DISTINCT docs of the SAME
    // source are removed from EVERY document; cross-source line sharing
    // is not template evidence and survives. Every doc stays in the
    // report (fully-templated docs show clean_text='') — drop policy is
    // the caller's. Distinct-first frequency count, so a hot template
    // line costs one row per containing doc, never per occurrence.
    QueryDef(
      "x111_boilerplate_strip",
      (s, dir) =>
        Dedup.boilerplateStrip(Tables.documents(s, dir), wordsPerLine = 5,
            minDocs = 2)
          .orderBy(col("doc_id")),
      Some("""WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
             |  FROM documents),
             |lines AS (SELECT doc_id, source, i AS line_no,
             |    array_to_string(t[(i*5+1):(i*5+5)], ' ') AS line
             |  FROM toks, LATERAL unnest(
             |    range(0, CAST(ceil(len(t)/5.0) AS BIGINT))) AS u(i)),
             |boiler AS (SELECT source, line FROM (
             |    SELECT source, line, COUNT(DISTINCT doc_id) AS n_docs
             |    FROM lines GROUP BY 1, 2) f WHERE n_docs >= 2),
             |flagged AS (SELECT l.doc_id, l.line_no, l.line,
             |    (b.line IS NOT NULL) AS is_boiler
             |  FROM lines l LEFT JOIN boiler b
             |    ON l.source = b.source AND l.line = b.line)
             |SELECT doc_id,
             |  COUNT(*) FILTER (WHERE NOT is_boiler) AS n_lines_kept,
             |  COUNT(*) FILTER (WHERE is_boiler) AS n_boiler_removed,
             |  COALESCE(string_agg(line, ' ' ORDER BY line_no)
             |    FILTER (WHERE NOT is_boiler), '') AS clean_text
             |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- x112: snapshot-to-snapshot curation transitions ------------------
    // The regression diff after re-running the pipeline on a new corpus
    // version: docs whose curation STATUS changed. The old snapshot
    // additionally excludes doc_id % 89 == 0, so the new snapshot
    // contains ~1% returning documents — including returning exact-dup
    // keepers that DEMOTE a doc kept yesterday, the non-local effect a
    // per-doc input diff cannot see. Oracle replays BOTH pipelines in
    // one query via prefixed stage CTEs (o_/n_) and derives status from
    // the monotone stage sets.
    QueryDef(
      "x112_curation_transitions",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Pipeline.curationTransitions(
            docs.filter(col("doc_id") % 97 =!= 0 && col("doc_id") % 89 =!= 0),
            docs.filter(col("doc_id") % 97 =!= 0),
            docs.filter(col("doc_id") % 97 === 0))
          .orderBy(col("doc_id"))
      },
      Some {
        def statusCte(p: String) =
          s"""${p}status AS (SELECT c.doc_id, CASE
             |    WHEN g.doc_id IS NULL THEN 'quality'
             |    WHEN e.doc_id IS NULL THEN 'exact_dup'
             |    WHEN d.doc_id IS NULL THEN 'near_dup'
             |    WHEN cl.doc_id IS NULL THEN 'contaminated'
             |    ELSE 'kept' END AS status
             |  FROM ${p}corpus c
             |  LEFT JOIN (SELECT doc_id FROM ${p}good) g ON g.doc_id = c.doc_id
             |  LEFT JOIN (SELECT doc_id FROM ${p}exact) e ON e.doc_id = c.doc_id
             |  LEFT JOIN (SELECT doc_id FROM ${p}dedup) d ON d.doc_id = c.doc_id
             |  LEFT JOIN (SELECT doc_id FROM ${p}clean) cl ON cl.doc_id = c.doc_id)""".stripMargin
        s"""${curationCtes(semantic = false, p = "o_",
               corpusPred = "doc_id % 97 != 0 AND doc_id % 89 != 0")},
           |${curationCtes(semantic = false, p = "n_").stripPrefix("WITH ")},
           |${statusCte("o_")},
           |${statusCte("n_")}
           |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           |  o.status AS status_old, n.status AS status_new
           |FROM o_status o FULL OUTER JOIN n_status n ON o.doc_id = n.doc_id
           |WHERE o.status IS DISTINCT FROM n.status
           |ORDER BY doc_id""".stripMargin
      }),

    // ---- x113: JSONL shard write → read round-trip ------------------------
    // The loader-facing export: REAL shard=N/*.json files on disk
    // (Jsonl.writeJsonlShards over the deterministic md5 shuffle), read
    // back DISTRIBUTED with an explicit schema, and integrity-summarized
    // per shard — count, char mass, and the x73 order-independent content
    // digest over the ROUND-TRIPPED text (JSON escaping must hand back
    // the exact bytes md5 saw before the write). Fixed 300-doc slice:
    // the fixture cost is the point, not corpus scale (x59 convention).
    // The oracle replays the shard arithmetic from the base table.
    QueryDef(
      "x113_jsonl_shard_roundtrip",
      (s, dir) => {
        val docs = Tables.documents(s, dir).filter(col("doc_id") < 300)
        val outDir = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"),
          s"graft_x113_${Integer.toHexString(dir.hashCode)}").toString
        graft.sources.Jsonl.writeJsonlShards(docs, outDir, docsPerShard = 64L)
        val schema = new org.apache.spark.sql.types.StructType()
          .add("doc_id", org.apache.spark.sql.types.LongType)
          .add("text", org.apache.spark.sql.types.StringType)
          .add("lang", org.apache.spark.sql.types.StringType)
          .add("source", org.apache.spark.sql.types.StringType)
          .add("n_chars", org.apache.spark.sql.types.LongType)
        graft.sources.Jsonl.readJsonlShards(s, outDir, schema)
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(expr(TextAnalysis.hexToIntSql("md5(text)", 8)))
              .as("content_digest"))
          .orderBy(col("shard"))
      },
      Some(s"""WITH c AS (SELECT * FROM documents WHERE doc_id < 300),
              |ord AS (SELECT doc_id, n_chars, text,
              |    row_number() OVER (ORDER BY md5(concat('shuf:', doc_id)), doc_id)
              |      - 1 AS pos
              |  FROM c)
              |SELECT CAST(pos // 64 AS BIGINT) AS shard,
              |  CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
              |  CAST(SUM(${TextAnalysis.hexToIntSql("md5(text)", 8)}) AS BIGINT)
              |    AS content_digest
              |FROM ord GROUP BY 1 ORDER BY shard""".stripMargin)),

    // ---- x120: edit-distance-verified near-dup pairs ----------------------
    // The LSH candidates re-checked with capped character-level
    // Levenshtein (integer threshold: 10·dist ≤ 3·max(len)); splits
    // template-sharing near-dups from mere shingle-overlap pairs. Both
    // engines run their native codegen'd Levenshtein on the same capped
    // prefixes.
    QueryDef(
      "x120_edit_neardup",
      (s, dir) =>
        Dedup.editDistancePairs(Tables.documents(s, dir), bands = 2,
            rowsPerBand = 4, maxDistPct = 3, capChars = 400)
          .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $lshPairsCtes,
              |t AS (SELECT doc_id, substr(text, 1, 400) AS s FROM documents),
              |j AS (SELECT p.id_a, p.id_b,
              |    CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist,
              |    CAST(length(a.s) AS BIGINT) AS len_a,
              |    CAST(length(b.s) AS BIGINT) AS len_b
              |  FROM pairs p JOIN t a ON a.doc_id = p.id_a
              |  JOIN t b ON b.doc_id = p.id_b)
              |SELECT id_a, id_b, dist, len_a, len_b FROM j
              |WHERE dist * 10 <= greatest(len_a, len_b) * 3
              |ORDER BY id_a, id_b""".stripMargin)),

    // ---- x172: product-quantization codebook assignment --------------------
    // Four 16-dim blocks, each trained by the fixed-point Lloyd's
    // (Similarity.kmeansCentroids) — the oracle replays all four chains
    // with prefixed kmeansCtes and joins the assignments.
    QueryDef(
      "x172_pq_codes",
      (s, dir) =>
        graft.functions.Similarity.pqCodes(Tables.embeddings(s, dir))
          .orderBy(col("vec_id")),
      Some {
        val blocks = (0 until 4).map { b =>
          kmeansCtes(8, 2, s"b$b",
            s"""SELECT vec_id,
               |  list_slice(embedding::DOUBLE[], ${b * 16 + 1}, ${(b + 1) * 16})
               |    AS e FROM embeddings""".stripMargin)
        }.mkString(",\n")
        s"""WITH $blocks
           |SELECT b0af.vec_id, b0af.cell AS code_0, b1af.cell AS code_1,
           |  b2af.cell AS code_2, b3af.cell AS code_3
           |FROM b0af JOIN b1af USING (vec_id) JOIN b2af USING (vec_id)
           |  JOIN b3af USING (vec_id) ORDER BY vec_id""".stripMargin
      }),

    // ---- x173: PQ asymmetric-distance recall audit --------------------------
    // ADC ranking touches m codes per candidate (never raw vectors);
    // per-block partials round-12 decimal-summed (the x103 convention);
    // recall vs the exact dot-product top-k — see Similarity.pqRecall.
    QueryDef(
      "x173_pq_recall",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        graft.functions.Similarity.pqRecall(
          emb.filter(col("vec_id") < 5), emb, topK = 10)
          .orderBy(col("query_id"))
      },
      Some {
        val blocks = (0 until 4).map { b =>
          kmeansCtes(8, 2, s"b$b",
            s"""SELECT vec_id,
               |  list_slice(embedding::DOUBLE[], ${b * 16 + 1}, ${(b + 1) * 16})
               |    AS e FROM embeddings""".stripMargin)
        }.mkString(",\n")
        val centsU = (0 until 4).map(b =>
          s"SELECT $b AS b, cent_id, ce FROM b${b}c2").mkString(" UNION ALL ")
        val codesU = (0 until 4).map(b =>
          s"SELECT vec_id, $b AS b, cell AS code FROM b${b}af")
          .mkString(" UNION ALL ")
        s"""WITH $blocks,
           |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
           |  FROM embeddings WHERE vec_id < 5),
           |cents AS ($centsU),
           |codes AS ($codesU),
           |lut AS (SELECT query_id, b, cent_id AS code,
           |    CAST(round(list_dot_product(
           |      list_slice(q_emb, b * 16 + 1, (b + 1) * 16), ce), 12)
           |      AS DECIMAL(28,12)) AS part
           |  FROM q CROSS JOIN cents),
           |ap AS (SELECT query_id, vec_id, SUM(part) AS approx
           |  FROM codes JOIN lut USING (b, code) GROUP BY 1, 2),
           |apt AS (SELECT query_id, vec_id FROM (
           |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
           |      PARTITION BY query_id ORDER BY approx DESC, vec_id) AS rn
           |    FROM ap) WHERE rn <= 10),
           |ex AS (SELECT q.query_id, v.vec_id,
           |    round(list_dot_product(q.q_emb, v.e64), 6) AS exd
           |  FROM q CROSS JOIN (SELECT vec_id, embedding::DOUBLE[] AS e64
           |    FROM embeddings) v),
           |ext AS (SELECT query_id, vec_id FROM (
           |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
           |      PARTITION BY query_id ORDER BY exd DESC, vec_id) AS rn
           |    FROM ex) WHERE rn <= 10),
           |hits AS (SELECT e.query_id, COUNT(*) AS n_hits FROM ext e
           |  JOIN apt a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
           |  GROUP BY 1),
           |den AS (SELECT query_id, COUNT(*) AS k FROM ext GROUP BY 1)
           |SELECT den.query_id,
           |  CAST(COALESCE(hits.n_hits, 0) AS BIGINT) AS n_hits,
           |  round(CAST(COALESCE(hits.n_hits, 0) AS DOUBLE)
           |    / CAST(den.k AS DOUBLE), 6) AS recall
           |FROM den LEFT JOIN hits USING (query_id)
           |ORDER BY den.query_id""".stripMargin
      }),

    // ---- x174: IVF×PQ composed ANN search -----------------------------------
    // The billion-vector serving shape: probe nprobe coarse cells, rank
    // ONLY their members by the asymmetric PQ distance (broadcast LUT,
    // m codes per candidate — no raw candidate vectors in the ranking
    // pass). The oracle replays the coarse kmeans chain (prefix g) plus
    // all four block chains and the probe/LUT/ADC joins.
    QueryDef(
      "x174_ivfpq_topk",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        graft.functions.Similarity.ivfPqTopK(
          emb.filter(col("vec_id") < 5), emb, topK = 10,
          nCells = 8, nprobe = 2)
          .orderBy(col("query_id"), col("rk"))
      },
      Some {
        def cosSql(a: String, b: String) =
          s"round(list_dot_product($a, $b)/sqrt(list_dot_product($a,$a)*list_dot_product($b,$b)),6)"
        val blocks = (0 until 4).map { b =>
          kmeansCtes(8, 2, s"b$b",
            s"""SELECT vec_id,
               |  list_slice(embedding::DOUBLE[], ${b * 16 + 1}, ${(b + 1) * 16})
               |    AS e FROM embeddings""".stripMargin)
        }.mkString(",\n")
        val coarse = kmeansCtes(8, 2, "g",
          "SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings")
        val centsU = (0 until 4).map(b =>
          s"SELECT $b AS b, cent_id, ce FROM b${b}c2").mkString(" UNION ALL ")
        val codesU = (0 until 4).map(b =>
          s"SELECT vec_id, $b AS b, cell AS code FROM b${b}af")
          .mkString(" UNION ALL ")
        s"""WITH $coarse,
           |$blocks,
           |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
           |  FROM embeddings WHERE vec_id < 5),
           |probes AS (SELECT query_id, cell FROM (
           |    SELECT q.query_id, c.cent_id AS cell, ROW_NUMBER() OVER (
           |      PARTITION BY q.query_id
           |      ORDER BY ${cosSql("q.q_emb", "c.ce")} DESC, c.cent_id)
           |      AS pr
           |    FROM q CROSS JOIN gc2 c) t WHERE pr <= 2),
           |cents AS ($centsU),
           |codes AS ($codesU),
           |lut AS (SELECT query_id, b, cent_id AS code,
           |    CAST(round(list_dot_product(
           |      list_slice(q_emb, b * 16 + 1, (b + 1) * 16), ce), 12)
           |      AS DECIMAL(28,12)) AS part
           |  FROM q CROSS JOIN cents),
           |adc AS (SELECT p.query_id, m.vec_id, SUM(l.part) AS a
           |  FROM gaf m JOIN probes p ON p.cell = m.cell
           |    AND p.query_id <> m.vec_id
           |  JOIN codes c ON c.vec_id = m.vec_id
           |  JOIN lut l ON l.query_id = p.query_id AND l.b = c.b
           |    AND l.code = c.code
           |  GROUP BY 1, 2)
           |SELECT query_id, CAST(rk AS BIGINT) AS rk,
           |  vec_id AS neighbor_id, round(CAST(a AS DOUBLE), 6) AS adc
           |FROM (SELECT query_id, vec_id, a, ROW_NUMBER() OVER (
           |    PARTITION BY query_id ORDER BY a DESC, vec_id) AS rk
           |  FROM adc) t WHERE rk <= 10
           |ORDER BY query_id, rk""".stripMargin
      }),

    // ---- x243: planted near-dup tiers through the full pipeline -----------
    // The END-STATE recall metric behind the round-14 banding default
    // (8 bands × 2 rows): every 5th corpus doc plants ONE prefix variant
    // at a token fraction picked by doc_id % 4 (0.9/0.7/0.5/0.3 — one
    // variant per original, so no variant-variant similarity chains
    // confound the tiers), with the variant id offset by 100M·tier so
    // the original is always the min-id cluster keeper. The whole
    // curation pipeline runs over the planted corpus and the report is
    // per-tier outcome counts. A variant's token-set Jaccard against its
    // original ≈ its fraction (prefix sets are nested: J =
    // |prefix|/|full|), so n_near_dup/n_docs per tier IS the pipeline's
    // deletion recall at that similarity — the quantity the banding
    // shape controls (the verified gate makes precision exact
    // regardless). Tier 0.3 sits below minJaccard=0.5 and must survive
    // the near-dup gate; the oracle replays the identical planting +
    // stages, so the per-tier counts are bitwise-checked, not a
    // statistical assertion.
    // Scale shape: planting is a map-side projection (no shuffle); the
    // pipeline cost is the audited x54 backbone over a 1.2× corpus.
    QueryDef(
      "x243_planted_neardup_recall",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val base = docs.filter(col("doc_id") % 97 =!= 0)
          .select(col("doc_id"), col("text"))
        val toPlant = base.filter(col("doc_id") % 5 === 1)
          .select(col("doc_id"), split(col("text"), " ").as("a"),
            (col("doc_id") % 4).as("_i"))
        val f = when(col("_i") === 0, 0.9).when(col("_i") === 1, 0.7)
          .when(col("_i") === 2, 0.5).otherwise(0.3)
        val variants = toPlant.select(
          (col("doc_id") + (col("_i") + 1) * lit(100000000L)).as("doc_id"),
          concat_ws(" ", slice(col("a"), lit(1),
            greatest(lit(1), ceil(size(col("a")) * f).cast("int"))))
            .as("text"))
        val planted = base.unionByName(variants)
        Pipeline.curationStatus(planted,
            docs.filter(col("doc_id") % 97 === 0))
          .withColumn("_t", expr("doc_id DIV 100000000"))
          .withColumn("tier",
            when(col("_t") === 0, "orig").when(col("_t") === 1, "0.9")
              .when(col("_t") === 2, "0.7").when(col("_t") === 3, "0.5")
              .otherwise("0.3"))
          .groupBy(col("tier"))
          .agg(
            count(lit(1)).cast("long").as("n_docs"),
            sum(when(col("status") === "kept", 1L).otherwise(0L))
              .cast("long").as("n_kept"),
            sum(when(col("status") === "near_dup", 1L).otherwise(0L))
              .cast("long").as("n_near_dup"),
            sum(when(col("status") === "exact_dup", 1L).otherwise(0L))
              .cast("long").as("n_exact_dup"),
            sum(when(col("status") === "quality", 1L).otherwise(0L))
              .cast("long").as("n_quality"),
            sum(when(col("status") === "contaminated", 1L).otherwise(0L))
              .cast("long").as("n_contaminated"))
          .orderBy(col("tier"))
      },
      Some {
        val plantedSql =
          """SELECT doc_id, text FROM documents WHERE doc_id % 97 != 0
            |  UNION ALL
            |  SELECT b.doc_id + 100000000 * (b.doc_id % 4 + 1) AS doc_id,
            |    array_to_string(
            |      a[1:greatest(1, CAST(ceil(len(a) *
            |        (CASE b.doc_id % 4 WHEN 0 THEN 0.9 WHEN 1 THEN 0.7
            |          WHEN 2 THEN 0.5 ELSE 0.3 END)) AS BIGINT))],
            |      ' ') AS text
            |  FROM (SELECT doc_id, string_split(text, ' ') AS a
            |        FROM documents
            |        WHERE doc_id % 97 != 0 AND doc_id % 5 = 1) b"""
            .stripMargin
        s"""${curationCtes(semantic = false, corpusSql = Some(plantedSql))},
           |status AS (SELECT c.doc_id,
           |    CASE WHEN g.doc_id IS NULL THEN 'quality'
           |         WHEN e.doc_id IS NULL THEN 'exact_dup'
           |         WHEN n.doc_id IS NULL THEN 'near_dup'
           |         WHEN cl.doc_id IS NULL THEN 'contaminated'
           |         ELSE 'kept' END AS status
           |  FROM corpus c
           |  LEFT JOIN (SELECT doc_id FROM good) g ON g.doc_id = c.doc_id
           |  LEFT JOIN (SELECT doc_id FROM exact) e ON e.doc_id = c.doc_id
           |  LEFT JOIN (SELECT doc_id FROM dedup) n ON n.doc_id = c.doc_id
           |  LEFT JOIN (SELECT doc_id FROM clean) cl ON cl.doc_id = c.doc_id)
           |SELECT CASE doc_id // 100000000 WHEN 0 THEN 'orig'
           |    WHEN 1 THEN '0.9' WHEN 2 THEN '0.7' WHEN 3 THEN '0.5'
           |    ELSE '0.3' END AS tier,
           |  CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(CASE WHEN status = 'kept' THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_kept,
           |  CAST(SUM(CASE WHEN status = 'near_dup' THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_near_dup,
           |  CAST(SUM(CASE WHEN status = 'exact_dup' THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_exact_dup,
           |  CAST(SUM(CASE WHEN status = 'quality' THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_quality,
           |  CAST(SUM(CASE WHEN status = 'contaminated' THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_contaminated
           |FROM status GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // ---- x247: MODEL-GATED curation funnel ---------------------------------
    // The fastText-style quality-model filter as a pipeline citizen: a
    // TRAINED hashed-feature classifier (x244's exact-integer training)
    // gates the corpus BEFORE heuristic curation, and the per-source
    // funnel attributes the model's drops alongside every other stage —
    // n_input → n_model → n_quality → n_exact → n_neardup → n_clean.
    // The oracle composes the x244 train/score replay (as the pipeline's
    // corpus override) with the full x106 stage chain.
    QueryDef(
      "x247_model_gated_funnel",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val w = TextAnalysis.trainHashedWeights(docs,
          col("lang") === "en", dims = 32)
        Pipeline.curationFunnel(
            docs.filter(col("doc_id") % 97 =!= 0),
            docs.filter(col("doc_id") % 97 === 0),
            classifierWeights = Some(w), classifierDims = 32)
          .orderBy(col("source"))
      },
      Some(modelGatedFunnelSql)),

    // ---- x249: D4 prototypicality prune -------------------------------------
    // The published D4 diversification step: the most PROTOTYPICAL 10%
    // of every embedding cluster (closest to its trained k-means
    // centroid — the redundant core) is dropped; the diverse tail is
    // kept. Per-cell report over Similarity.d4PrototypePrune — the
    // oracle replays the full trained quantizer (kmeansCtes), the
    // round-6 own-centroid cosine, the (sim DESC, id) rank and the
    // ceil(n*0.1) cut.
    QueryDef(
      "x249_d4_prune",
      (s, dir) =>
        Similarity.d4PrototypePrune(Tables.embeddings(s, dir),
            nCells = 8, iters = 2, fraction = 0.1)
          .groupBy(col("cell"))
          .agg(count(lit(1)).cast("long").as("n_vectors"),
            sum(when(col("pruned"), 1L).otherwise(0L)).cast("long")
              .as("n_pruned"),
            sum(when(!col("pruned"), col("sim").cast("decimal(18,6)")))
              .cast("double").as("sum_kept_sim"))
          .orderBy(col("cell")),
      Some(s"""WITH ${kmeansCtes(8, 2, "",
               "SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings")},
              |sc AS (SELECT a.vec_id, a.cell,
              |    round(list_dot_product(a.e, c.ce)
              |      / sqrt(list_dot_product(a.e, a.e)
              |        * list_dot_product(c.ce, c.ce)), 6) AS sim
              |  FROM af a JOIN c2 c ON c.cent_id = a.cell),
              |cn AS (SELECT cell, COUNT(*) AS n FROM sc GROUP BY 1),
              |rk AS (SELECT vec_id, cell, sim,
              |    ROW_NUMBER() OVER (PARTITION BY cell
              |      ORDER BY sim DESC, vec_id) AS rnk
              |  FROM sc),
              |pr AS (SELECT r.vec_id, r.cell, r.sim, r.rnk,
              |    LEAST(CAST(ceil(cn.n * 0.1) AS BIGINT), cn.n - 1) AS pn
              |  FROM rk r JOIN cn USING (cell))
              |SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors,
              |  CAST(SUM(CASE WHEN rnk <= pn THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_pruned,
              |  CAST(SUM(CASE WHEN rnk > pn
              |    THEN CAST(sim AS DECIMAL(18,6)) END) AS DOUBLE)
              |    AS sum_kept_sim
              |FROM pr GROUP BY cell ORDER BY cell""".stripMargin)),

    // ---- x250: band-bucket cardinality histogram ---------------------------
    // The mega-bucket diagnostic behind Dedup.DefaultMaxBucket: for the
    // pipeline's default banding over the corpus, how many (band_id,
    // band_key) buckets exist at each size, the dense pair mass they
    // would emit uncapped, and what the capped generator actually emits
    // (m−1 star edges above the cap). A histogram tail crossing the cap
    // is the signal that the near-dup stage is trading non-hub recall
    // for boundedness on this corpus. One groupBy over the stacked band
    // keys + one over the O(distinct sizes) frequency table — no pairs.
    QueryDef(
      "x250_band_bucket_histogram",
      (s, dir) =>
        Dedup.bandBucketHistogram(Tables.documents(s, dir),
            bands = Pipeline.DefaultBands,
            rowsPerBand = Pipeline.DefaultRowsPerBand)
          .orderBy(col("bucket_size")),
      Some(s"""WITH ${bandKeyCtes("", "", "documents",
                 Pipeline.DefaultBands, Pipeline.DefaultRowsPerBand)},
              |bsz AS (SELECT bid, bk, COUNT(*) AS m FROM stacked
              |  GROUP BY bid, bk)
              |SELECT m AS bucket_size, CAST(COUNT(*) AS BIGINT) AS n_buckets,
              |  m * (m - 1) // 2 * COUNT(*) AS n_dense_pairs,
              |  (CASE WHEN m > ${Dedup.DefaultMaxBucket} THEN m - 1
              |    ELSE m * (m - 1) // 2 END) * COUNT(*) AS n_emitted_pairs
              |FROM bsz GROUP BY m ORDER BY bucket_size""".stripMargin)),

    // ---- x251: SEMANTIC-stage recall curve (x243's embedding analog) -------
    // End-to-end deletion recall of the EMBEDDING near-dup stage: every
    // 5th corpus doc plants one variant whose TEXT is token-disjoint
    // (every token suffixed with the tier id — invisible to exact dedup
    // and token LSH, the paraphrase shape only embeddings catch) and
    // whose EMBEDDING sits at an exact planted cosine to the original:
    // e' = c·ê + sqrt(1−c²)·ô with ô the Gram-Schmidt unit residual of
    // a PER-DOC deterministic ±1 direction (md5 of "vec_id:dim" — the
    // planeSigns construction) against ê, so cos(e, e') = c by
    // construction AND different docs' variants get near-orthogonal
    // perturbations (a shared fixed axis would make every variant a
    // near-dup of every other variant through that axis). Tiers c =
    // 0.95/0.8/0.6 sit above the pipeline's embedMinCosine = 0.4 and
    // must fall to the semantic gate (when quantized into the original's
    // cell); 0.2 sits below and must survive it. The variant id is
    // offset +100M·tier so the original is always the min-id keeper.
    // The oracle replays the planting (same arithmetic expression tree,
    // so the doubles are bit-identical), the full 7-stage pipeline and
    // the per-tier outcome counts — bitwise, not statistical.
    // Scale shape: planting is a map-side projection; the pipeline cost
    // is the audited x60 semantic backbone over a 1.2× corpus.
    QueryDef(
      "x251_semantic_recall_curve",
      (s, dir) => plantedSemanticRecall(s, dir, embedBands = 0),
      Some(plantedSemanticRecallSql(semanticBands = None))),

    // ---- x252: distributed cell-local diverse selection --------------------
    // The corpus-side D4 selection half (Similarity.cellDiverseTopK):
    // per trained k-means cell, greedy MMR anchored at the cell
    // centroid picks k = 3 diverse-but-central representatives from the
    // salted top-8 pool. No driver collect anywhere — the greedy runs
    // map-side on one bounded row per cell. The oracle replays the full
    // quantizer (kmeansCtes), the pool cut, the pairwise round-6 sims
    // and the unrolled 3-step DECIMAL greedy (the x215 construction,
    // with the cell as the query).
    QueryDef(
      "x252_cell_diverse_topk",
      (s, dir) =>
        Similarity.cellDiverseTopK(Tables.embeddings(s, dir),
            nCells = 8, iters = 2, k = 3, poolSize = 8, lambda = 0.7)
          .orderBy(col("cell"), col("rk")),
      Some {
        val steps = (2 to 3).map { i =>
          s"""gcand$i AS (SELECT c.cell, c.vec_id, c.sim FROM pool c
             |  LEFT JOIN gsel${i - 1} x ON x.cell = c.cell
             |    AND x.vec_id = c.vec_id
             |  WHERE x.vec_id IS NULL),
             |gmx$i AS (SELECT c.cell, c.vec_id, MAX(ps.ps) AS m
             |  FROM gcand$i c JOIN gsel${i - 1} s
             |    ON s.cell = c.cell
             |  JOIN psim ps ON ps.cell = c.cell
             |    AND ps.na = least(c.vec_id, s.vec_id)
             |    AND ps.nb = greatest(c.vec_id, s.vec_id)
             |  GROUP BY 1, 2),
             |g$i AS (SELECT cell, vec_id, mmr FROM (
             |  SELECT m.cell, m.vec_id,
             |    CAST(0.7 AS DECIMAL(2,1)) * c.sim
             |      - CAST(0.3 AS DECIMAL(2,1)) * m.m AS mmr,
             |    ROW_NUMBER() OVER (PARTITION BY m.cell
             |      ORDER BY CAST(0.7 AS DECIMAL(2,1)) * c.sim
             |        - CAST(0.3 AS DECIMAL(2,1)) * m.m DESC, m.vec_id) AS rk
             |  FROM gmx$i m JOIN pool c ON c.cell = m.cell
             |    AND c.vec_id = m.vec_id) t
             |  WHERE rk = 1),
             |gsel$i AS (SELECT cell, vec_id FROM gsel${i - 1}
             |  UNION ALL SELECT cell, vec_id FROM g$i)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${kmeansCtes(8, 2, "",
               "SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings")},
           |rel AS (SELECT a.vec_id, a.cell, a.e,
           |    round(list_dot_product(a.e, c.ce)
           |      / sqrt(list_dot_product(a.e, a.e)
           |        * list_dot_product(c.ce, c.ce)), 6) AS sim
           |  FROM af a JOIN c2 c ON c.cent_id = a.cell),
           |pool AS (SELECT cell, vec_id,
           |    CAST(sim AS DECIMAL(18,6)) AS sim, e FROM (
           |  SELECT *, ROW_NUMBER() OVER (
           |    PARTITION BY cell ORDER BY sim DESC, vec_id) AS rk
           |  FROM rel) t WHERE rk <= 8),
           |psim AS (SELECT a.cell, a.vec_id AS na, b.vec_id AS nb,
           |    CAST(round(list_dot_product(a.e, b.e)
           |      / sqrt(list_dot_product(a.e, a.e)
           |        * list_dot_product(b.e, b.e)), 6) AS DECIMAL(18,6))
           |      AS ps
           |  FROM pool a JOIN pool b ON a.cell = b.cell
           |    AND a.vec_id < b.vec_id),
           |g1 AS (SELECT cell, vec_id,
           |    CAST(0.7 AS DECIMAL(2,1)) * sim AS mmr FROM (
           |  SELECT cell, vec_id, sim, ROW_NUMBER() OVER (
           |    PARTITION BY cell ORDER BY sim DESC, vec_id) AS rk
           |  FROM pool) t WHERE rk = 1),
           |gsel1 AS (SELECT cell, vec_id FROM g1),
           |$steps
           |SELECT cell, CAST(1 AS BIGINT) AS rk, vec_id,
           |  CAST(round(mmr, 6) AS DOUBLE) AS mmr FROM g1
           |UNION ALL SELECT cell, CAST(2 AS BIGINT), vec_id,
           |  CAST(round(mmr, 6) AS DOUBLE) FROM g2
           |UNION ALL SELECT cell, CAST(3 AS BIGINT), vec_id,
           |  CAST(round(mmr, 6) AS DOUBLE) FROM g3
           |ORDER BY cell, rk""".stripMargin
      }),

    // ---- x253: CALIBRATED model-gated funnel --------------------------------
    // The calibration loop wired into the model gate (x247 upgraded):
    // train the x244 weights, bin the TRAINED scorer's probabilities
    // over the pipeline corpus against the label (x137's reliability
    // diagram via TextAnalysis.trainedScoreCalibration), isotonic-fit
    // the bins (x205's PAV), and gate at the smallest bin whose FITTED
    // calibrated probability clears 0.5 — the threshold comes from the
    // calibrated curve, not the raw score sign. The per-source funnel
    // attributes the calibrated gate's drops alongside every other
    // stage, with the chosen bin riding along as keep_bin. The
    // threshold pick is a <= bins-row driver epilogue; everything
    // corpus-scale stays the audited one-pass scorer + funnel chain.
    QueryDef(
      "x253_calibrated_gate_funnel",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        // materialized ONCE: both consumers below (the calibration
        // scorer and the model gate) collect() the ≤dims-row weights
        // table at plan-build, and a lazy frame would re-run the full
        // corpus-scale training job for each (guide §1/§5 — the
        // "pass a weights frame that is already materialized" serve
        // shape classifierScoreWithWeights documents)
        val w = graft.ops.Checkpoints.materialize(
          TextAnalysis.trainHashedWeights(docs,
            col("lang") === "en", dims = 32))
        val fit = TextAnalysis.isotonicFitBins(
          TextAnalysis.trainedScoreCalibration(corpus, w,
            col("lang") === "en", dims = 32, bins = 10))
        val kbRow = fit.filter(col("fitted") >= 0.5)
          .agg(min(col("bin"))).head()
        val kb = if (kbRow.isNullAt(0)) 10L else kbRow.getLong(0)
        Pipeline.curationFunnel(corpus,
            docs.filter(col("doc_id") % 97 === 0),
            classifierWeights = Some(w), classifierDims = 32,
            classifierKeepBin = Some(kb), classifierBins = 10)
          .withColumn("keep_bin", lit(kb))
          .orderBy(col("source"))
      },
      Some(calibratedGateFunnelSql)),

    // ---- x254: semantic recall curve under the BANDED (100-TB) mode --------
    // x251's planted-tier experiment re-run with the semantic stage's
    // banded sign-LSH candidate generator (embedBands = 4 bands × 8
    // planes) instead of the dense same-cell join: same planting, same
    // exact-cosine gate, same keeper policy — the only change is WHICH
    // pairs become candidates. The per-tier deletion counts MEASURE the
    // banded-OR recall curve end-to-end (1−(1−p^r)^b, p = 1−θ/π): the
    // 0.95 tier collides in some band almost always, 0.8 about half the
    // time, 0.6 rarely — the explicit recall-for-boundedness trade the
    // O(n·bands) candidate generation makes vs the O(n²/cells) cell
    // mode, priced per tier against x251's curve on the same corpus.
    // Oracle replays planting + banding + capped pairs + all stages.
    QueryDef(
      "x254_semantic_lsh_recall",
      (s, dir) => plantedSemanticRecall(s, dir, embedBands = 4),
      Some(plantedSemanticRecallSql(semanticBands = Some((4, 8))))),

    // ---- x255: embedding band-bucket histogram ------------------------------
    // x250's diagnostic for the SEMANTIC banding: bucket-size histogram
    // of the sign-LSH (band, bucket) buckets over the embeddings table,
    // with dense vs actually-emitted (capped) pair mass. An embedding
    // mega-bucket — e.g. a default/zero vector an encoder emits for
    // empty inputs, which collides in EVERY band — shows up here as a
    // tail crossing the cap. One map-side bucket projection + two
    // groupBys; no joins, no pairs.
    QueryDef(
      "x255_semantic_band_histogram",
      (s, dir) =>
        Similarity.embeddingBandHistogram(Tables.embeddings(s, dir),
            nBands = 4, planesPerBand = 8, dim = 64)
          .orderBy(col("bucket_size")),
      Some(s"""WITH semb AS (SELECT vec_id, embedding::DOUBLE[] AS e
              |    FROM embeddings),
              |sestacked AS (${embBandStackSql("semb", 4, 8, 64)}),
              |bsz AS (SELECT bid, bk, COUNT(*) AS m FROM sestacked
              |  GROUP BY bid, bk)
              |SELECT m AS bucket_size, CAST(COUNT(*) AS BIGINT) AS n_buckets,
              |  m * (m - 1) // 2 * COUNT(*) AS n_dense_pairs,
              |  (CASE WHEN m > ${Dedup.DefaultMaxBucket} THEN m - 1
              |    ELSE m * (m - 1) // 2 END) * COUNT(*) AS n_emitted_pairs
              |FROM bsz GROUP BY m ORDER BY bucket_size""".stripMargin)),

    // ---- x256: banded recall at the PRODUCTION tuning rule ------------------
    // x254 measures the banded-OR trade at the experiment-scale 4×8
    // shape (mid-tier recall drops to the documented curve); THIS query
    // runs the same planted tiers at the shape the tuning rule derives
    // for a real corpus — hold r = 8 (buckets of a few vectors at this
    // n) and raise bands to 16, so the OR-curve 1−(1−p^r)^b recovers
    // ≈0.9999 at cosine 0.95 and ≈0.94 at 0.8 — and proves AS EVIDENCE
    // (bitwise, oracle-replayed) that banding's recall loss is a knob,
    // not a tax: the tuned shape matches or beats the dense cell mode's
    // per-tier deletions while keeping O(n·bands) candidate generation.
    // Read the three curves together: x251 (dense) / x254 (4×8) / x256
    // (16×8) on the identical planted corpus.
    QueryDef(
      "x256_semantic_lsh_recall_tuned",
      (s, dir) => plantedSemanticRecall(s, dir, embedBands = 16,
        planesPerBand = 8),
      Some(plantedSemanticRecallSql(semanticBands = Some((16, 8))))),

    // ---- x257: banded chain at the CORPUS-SCALE shape (the sf10 probe) -----
    // The tuning rule r ≈ log2(n/B) derives 16 planes per band for the
    // ~200k-vector sf10 corpus (buckets of a few vectors; 8 bands hold
    // recall at the high tier) — the shape whose sf10 measurement
    // replaces x251's dense 277.9 s chain in BENCH_sf10.json. Its HOME
    // SF is the probe artifact; at the sf0.01 oracle SF the same shape
    // over-shards (600 vectors into 2^16 buckets/band → near-zero
    // mid-tier collisions) and the per-tier rows document exactly that
    // end of the r-curve, bitwise — the rule says r must FOLLOW n, and
    // this query is the committed evidence in both directions.
    QueryDef(
      "x257_semantic_recall_banded_scale",
      (s, dir) => plantedSemanticRecall(s, dir, embedBands = 8,
        planesPerBand = 16),
      Some(plantedSemanticRecallSql(semanticBands = Some((8, 16))))),

    // ---- x258: AUTO-derived banding (the rule as code, audited) ------------
    // The same planted-tier experiment with embedBands = AutoBands: the
    // pipeline counts the materialized survivor vectors (543 at the
    // sf0.01 oracle SF) and derives the banded shape from the tuning
    // rule itself (Pipeline.autoBandShape — smallest r with n/2^r <= 4,
    // b = ceil(128/r)), instead of trusting a hand-set knob to follow
    // the corpus. At sf0.01 the rule derives 16 bands x 8 planes —
    // exactly x256's hand-tuned shape — so the ORACLE IS x256's SQL:
    // the auto path must reproduce the tuned tier curve bitwise. At the
    // sf10 probe scale (~200k survivors) the same rule derives 8 x 16 —
    // exactly x257's corpus-scale shape (232 s vs the mis-tuned 804 s,
    // BENCH_sf10.json) — the two committed evidence points ARE the
    // rule's outputs at their n.
    QueryDef(
      "x258_semantic_recall_auto",
      (s, dir) => plantedSemanticRecall(s, dir,
        embedBands = Pipeline.AutoBands),
      Some(plantedSemanticRecallSql(semanticBands = Some((16, 8)))))
  )

  /** x251/x254 shared experiment: plant one token-disjoint text variant
    * per 5th doc at an EXACT embedding cosine tier (0.95/0.8/0.6/0.2 —
    * e' = c·ê + sqrt(1−c²)·ô, ô the Gram-Schmidt unit residual of a
    * per-doc md5 ±1 direction against ê, so different docs' variants
    * perturb near-orthogonally), run the full semantic pipeline, and
    * roll up per-tier outcome counts. `embedBands` = 0 runs the dense
    * same-cell (trained-quantizer) candidate mode; > 0 runs the banded
    * sign-LSH mode at `planesPerBand` planes per band (x254 = 4×8, the
    * experiment shape; x256 = 16×8, the tuning-rule shape). Both
    * planted fixtures are
    * MATERIALIZED before the pipeline: the nested Gram-Schmidt
    * expression tree otherwise gets inlined by CollapseProject on every
    * reference and multiplies through the Lloyd iterations into an
    * exponentially-sized plan (measured 349 s vs 14 s quiescent at
    * sf0.1; DuckDB's CTEs don't inline and run the same query in 3 s).
    */
  private def plantedSemanticRecall(s: org.apache.spark.sql.SparkSession,
      dir: String, embedBands: Int,
      planesPerBand: Int = 8): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, dir)
    val embRaw = Tables.embeddings(s, dir)
    // The planted corpus is ONE SHARED FIXTURE across the whole recall
    // family (x251/x256/x257/x258 — identical planting, only the
    // semantic candidate generator differs), so it is memoized as a
    // StageCache FIXTURE entry: the suite and the bench's quiescent pass
    // pay the planting once per session, and every backbone stage
    // computed FROM these frames inherits fixture status (the prefix
    // stages are scaffolding of the same experiment). Round-17 verdict
    // Next #2.
    val (plantedDocs, plantedEmb) = graft.ops.StageCache.memoFixture(
        "planted_semantic_fixture", Seq(docs, embRaw), Seq()) {
      val base = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("text"))
      val toPlant = base.filter(col("doc_id") % 5 === 1)
        .select(col("doc_id"), col("text"), (col("doc_id") % 4).as("_i"))
      val variants = toPlant.select(
        (col("doc_id") + (col("_i") + 1) * lit(100000000L)).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          t => concat(t, lit("_"), col("_i").cast("string")))).as("text"))
      val planted = base.unionByName(variants)
      val emb = embRaw.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      val pv = emb.join(
          toPlant.select(col("doc_id").as("vec_id"), col("_i")), "vec_id")
        .withColumn("_nrm", sqrt(Similarity.dot(col("e"), col("e"))))
        .withColumn("_eh", transform(col("e"), x => x / col("_nrm")))
        .withColumn("_r", transform(sequence(lit(1), size(col("e"))),
          i => when(substring(md5(concat(col("vec_id").cast("string"),
            lit(":"), i.cast("string"))), 1, 1) < "8", 1.0)
            .otherwise(-1.0)))
        .withColumn("_d", Similarity.dot(col("_r"), col("_eh")))
        .withColumn("_w", zip_with(col("_r"), col("_eh"),
          (ri, ei) => ri - col("_d") * ei))
        .withColumn("_wn", sqrt(Similarity.dot(col("_w"), col("_w"))))
        .withColumn("_c", when(col("_i") === 0, 0.95)
          .when(col("_i") === 1, 0.8).when(col("_i") === 2, 0.6)
          .otherwise(0.2))
        .withColumn("_sc", sqrt(lit(1.0) - col("_c") * col("_c")))
      (graft.ops.Checkpoints.materialize(planted),
        graft.ops.Checkpoints.materialize(emb
          .unionByName(pv.select(
            (col("vec_id") + (col("_i") + 1) * lit(100000000L)).as("vec_id"),
            zip_with(col("_eh"), col("_w"), (ei, wi) =>
              col("_c") * ei + col("_sc") * (wi / col("_wn"))).as("e")))
          .select(col("vec_id").as("doc_id"), col("e").as("embedding"))))
    }
    Pipeline.curationStatus(
        plantedDocs,
        docs.filter(col("doc_id") % 97 === 0),
        embeddings = Some(plantedEmb),
        embedBands = embedBands, embedPlanesPerBand = planesPerBand,
        embedDim = 64)
      .withColumn("_t", expr("doc_id DIV 100000000"))
      .withColumn("tier",
        when(col("_t") === 0, "orig").when(col("_t") === 1, "0.95")
          .when(col("_t") === 2, "0.8").when(col("_t") === 3, "0.6")
          .otherwise("0.2"))
      .groupBy(col("tier"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("status") === "kept", 1L).otherwise(0L))
          .cast("long").as("n_kept"),
        sum(when(col("status") === "semantic_dup", 1L).otherwise(0L))
          .cast("long").as("n_semantic_dup"),
        sum(when(col("status") === "near_dup", 1L).otherwise(0L))
          .cast("long").as("n_near_dup"),
        sum(when(col("status") === "exact_dup", 1L).otherwise(0L))
          .cast("long").as("n_exact_dup"),
        sum(when(col("status") === "quality", 1L).otherwise(0L))
          .cast("long").as("n_quality"),
        sum(when(col("status") === "contaminated", 1L).otherwise(0L))
          .cast("long").as("n_contaminated"))
      .orderBy(col("tier"))
  }

  /** The DuckDB replay of [[plantedSemanticRecall]]: planting (same
    * arithmetic expression tree, bit-identical doubles), the full
    * 7-stage pipeline via [[curationCtes]] (cell or banded semantic
    * mode per `semanticBands`), status derivation, per-tier rollup. */
  private def plantedSemanticRecallSql(
      semanticBands: Option[(Int, Int)]): String = {
    val plantedSql =
      """SELECT doc_id, text FROM documents WHERE doc_id % 97 != 0
        |  UNION ALL
        |  SELECT b.doc_id + 100000000 * (b.doc_id % 4 + 1) AS doc_id,
        |    array_to_string(list_transform(string_split(text, ' '),
        |      t -> t || '_' || CAST(b.doc_id % 4 AS VARCHAR)), ' ')
        |      AS text
        |  FROM documents b
        |  WHERE b.doc_id % 97 != 0 AND b.doc_id % 5 = 1"""
        .stripMargin
    val plantedEmbSql =
      """SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000000 * (vec_id % 4 + 1) AS vec_id,
        |    list_transform(generate_series(1, len(e)), i ->
        |      c * eh[i] + sc * (w[i] / wn)) AS e
        |  FROM (
        |    SELECT *, sqrt(list_dot_product(w, w)) AS wn,
        |      sqrt(1.0 - c * c) AS sc
        |    FROM (
        |      SELECT *, list_transform(generate_series(1, len(e)), i ->
        |        r[i] - d * eh[i]) AS w
        |      FROM (
        |        SELECT *, list_dot_product(r, eh) AS d
        |        FROM (
        |          SELECT *, list_transform(generate_series(1, len(e)),
        |            i -> CASE WHEN substr(md5(CAST(vec_id AS VARCHAR) ||
        |              ':' || CAST(i AS VARCHAR)), 1, 1) < '8'
        |              THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END) AS r
        |          FROM (
        |            SELECT *, list_transform(e, x -> x / nrm) AS eh
        |            FROM (
        |              SELECT vec_id, embedding::DOUBLE[] AS e,
        |                CASE CAST(vec_id % 4 AS INT)
        |                  WHEN 0 THEN 0.95::DOUBLE
        |                  WHEN 1 THEN 0.8::DOUBLE WHEN 2 THEN 0.6::DOUBLE
        |                  ELSE 0.2::DOUBLE END AS c,
        |                sqrt(list_dot_product(embedding::DOUBLE[],
        |                  embedding::DOUBLE[])) AS nrm
        |              FROM embeddings
        |              WHERE vec_id % 97 != 0 AND vec_id % 5 = 1) q1) q2)
        |        q3) q4) q5) q6"""
        .stripMargin
    s"""${curationCtes(semantic = true,
         corpusSql = Some(plantedSql), embSql = plantedEmbSql,
         semanticBands = semanticBands)},
       |status AS (SELECT c.doc_id,
       |    CASE WHEN g.doc_id IS NULL THEN 'quality'
       |         WHEN e.doc_id IS NULL THEN 'exact_dup'
       |         WHEN n.doc_id IS NULL THEN 'near_dup'
       |         WHEN sm.doc_id IS NULL THEN 'semantic_dup'
       |         WHEN cl.doc_id IS NULL THEN 'contaminated'
       |         ELSE 'kept' END AS status
       |  FROM corpus c
       |  LEFT JOIN (SELECT doc_id FROM good) g ON g.doc_id = c.doc_id
       |  LEFT JOIN (SELECT doc_id FROM exact) e ON e.doc_id = c.doc_id
       |  LEFT JOIN (SELECT doc_id FROM dedup) n ON n.doc_id = c.doc_id
       |  LEFT JOIN (SELECT doc_id FROM sem) sm ON sm.doc_id = c.doc_id
       |  LEFT JOIN (SELECT doc_id FROM clean) cl ON cl.doc_id = c.doc_id)
       |SELECT CASE doc_id // 100000000 WHEN 0 THEN 'orig'
       |    WHEN 1 THEN '0.95' WHEN 2 THEN '0.8' WHEN 3 THEN '0.6'
       |    ELSE '0.2' END AS tier,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN status = 'kept' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN status = 'semantic_dup' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_semantic_dup,
       |  CAST(SUM(CASE WHEN status = 'near_dup' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_near_dup,
       |  CAST(SUM(CASE WHEN status = 'exact_dup' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_exact_dup,
       |  CAST(SUM(CASE WHEN status = 'quality' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_quality,
       |  CAST(SUM(CASE WHEN status = 'contaminated' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_contaminated
       |FROM status GROUP BY 1 ORDER BY 1""".stripMargin
  }
}
