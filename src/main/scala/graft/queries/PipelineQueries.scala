package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables._
import graft.expr.{PortableHash, VecOps}
import graft.ops.{AsOf, Bpe, Clustering, Dedup, Multimodal, Sampling, Selection, Similarity, Skew, TextStats}

/** Training-data-pipeline extension queries over `documents`/`embeddings`
  * (SURVEY §7.2 step 7): dedup, similarity search, text analysis. Every
  * query — including the MinHash/SimHash/LSH family — carries a DuckDB
  * oracle: the operators hash with engine-portable integer math
  * (md5-digit folds / congruential mixes, see [[graft.expr.PortableHash]]
  * and [[graft.expr.VecOps.hashPlaneDot]]), so the oracle reproduces the
  * exact candidate pairs, signatures, and buckets.
  */
object PipelineQueries {

  /** DuckDB replay of [[Bpe.trainMerges]]: the k merge rounds UNROLL into
    * chained CTE groups (census → argmax → greedy-merge rewrite per
    * round; recursive CTEs can't carry a per-round global argmax).
    * `MATERIALIZED` is load-bearing — DuckDB inlines CTEs by default, and
    * each round references the previous vocab three times, so inlining
    * would re-evaluate the whole chain 3^k times. The greedy rewrite uses
    * the keep-odd-runs formulation (positions p matching (l,r), islands
    * of consecutive p, keep 1st/3rd/… of each island), which equals the
    * engine's left-fold merge. */
  private def bpeOracleSql(n: Int): String =
    bpeCtes(n) + "\n" + (1 to n).map(i =>
      s"SELECT $i AS merge_rank, l AS lhs, r AS rhs, CAST(pc AS BIGINT) AS pair_count FROM best$i")
      .mkString("\nUNION ALL ") + "\nORDER BY merge_rank"

  /** Oracle for the ENCODE half: after replaying the k training rounds,
    * per-doc token counts are just each word's final symbol count joined
    * back onto the document token stream — no per-doc merge replay.
    * LEFT-joined from documents with counts coalesced to 0: the engine
    * emits (doc_id, 0, 0) for an empty/whitespace-only doc, and an
    * inner join from the token stream would silently drop that row. */
  private def bpeEncodeOracleSql(n: Int): String =
    bpeCtes(n) + s""",
       |toks AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
       |    FROM documents)
       |  WHERE w <> ''),
       |doc_counts AS (
       |  SELECT doc_id, count(*) AS n_words, sum(len(v.syms)) AS n_tokens
       |  FROM toks JOIN vocab$n v ON toks.w = v.w
       |  GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(c.n_words, 0) AS INTEGER) AS n_words,
       |  CAST(coalesce(c.n_tokens, 0) AS INTEGER) AS n_tokens
       |FROM documents d LEFT JOIN doc_counts c USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  private def bpeCtes(n: Int): String = {
    val head = """WITH vocab0 AS MATERIALIZED (
      |  SELECT w, count(*) AS cnt,
      |    list_transform(range(1, length(w) + 1), i -> substr(w, CAST(i AS INT), 1)) AS syms
      |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY w)""".stripMargin
    val rounds = (1 to n).map { i =>
      val j = i - 1
      s"""census$i AS MATERIALIZED (
         |  SELECT syms[CAST(p AS INT)] AS l, syms[CAST(p + 1 AS INT)] AS r, sum(cnt) AS pc
         |  FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS p FROM vocab$j)
         |  GROUP BY 1, 2),
         |best$i AS MATERIALIZED (SELECT l, r, pc FROM census$i ORDER BY pc DESC, l, r LIMIT 1),
         |mat$i AS MATERIALIZED (
         |  SELECT v.w, v.p FROM
         |    (SELECT w, syms, unnest(range(1, len(syms))) AS p FROM vocab$j) v, best$i b
         |  WHERE v.syms[CAST(v.p AS INT)] = b.l AND v.syms[CAST(v.p + 1 AS INT)] = b.r),
         |keep$i AS MATERIALIZED (
         |  SELECT w, p FROM (
         |    SELECT w, p, row_number() OVER (PARTITION BY w, p - rn ORDER BY p) AS k
         |    FROM (SELECT w, p, row_number() OVER (PARTITION BY w ORDER BY p) AS rn FROM mat$i))
         |  WHERE k % 2 = 1),
         |vocab$i AS MATERIALIZED (
         |  SELECT u.w, any_value(u.cnt) AS cnt,
         |    list(CASE WHEN kp.p IS NOT NULL THEN (SELECT l || r FROM best$i) ELSE u.sym END ORDER BY u.p)
         |      FILTER (WHERE dr.p IS NULL) AS syms
         |  FROM (SELECT w, cnt, syms[CAST(p AS INT)] AS sym, p
         |        FROM (SELECT w, cnt, syms, unnest(range(1, len(syms) + 1)) AS p FROM vocab$j)) u
         |  LEFT JOIN keep$i kp ON u.w = kp.w AND u.p = kp.p
         |  LEFT JOIN keep$i dr ON u.w = dr.w AND u.p = dr.p + 1
         |  GROUP BY u.w)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** Shared CTE chain reproducing [[Dedup.minhashCandidates]] (default
    * numPerm=16 / rowsPerBand=4) in DuckDB, ending in a `pairs` CTE —
    * used by both the candidate-pair oracle and the connected-components
    * oracle on top of it. */
  private val minhashPairCtes: String = {
    val h32 = PortableHash.duckDbMd5Number("shingle", 8)
    val mins = (0 until 16).map { j =>
      val pa = 2L * j + 1L
      val pb = (j * 2654435761L + 104729L) % 2147483647L
      s"min(h * $pa + $pb) AS mh$j"
    }.mkString(", ")
    val bandStructs = (0 until 4).map { b =>
      val members = (0 until 4).map(r => s"mh${b * 4 + r}").mkString(", ")
      s"struct_pack(band := $b, sig := list_reduce(list_sort([$members]), " +
        "(a, x) -> (a * 31 + x) % 1000000007))"
    }.mkString(", ")
    s"""d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)]
       |           || ' ' || toks[CAST(i + 2 AS INT)] AS shingle
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
       |        FROM d WHERE len(toks) >= 3)),
       |hs AS (SELECT doc_id, $h32 AS h FROM sh),
       |sig AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id),
       |bands AS (SELECT doc_id, unnest([$bandStructs]) AS bs FROM sig),
       |flat AS (SELECT doc_id, bs.band AS band, bs.sig AS sig FROM bands),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM flat a JOIN flat b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)""".stripMargin
  }

  // NOTE: the shared CTE text contains `||` concat operators, so the
  // composed oracles are built by plain concatenation — an outer
  // stripMargin would eat the first pipe of `||`.

  /** DuckDB oracle twin of [[Dedup.minhashCandidates]]. */
  private val minhashOracleSql: String =
    "WITH " + minhashPairCtes + "\nSELECT a_id, b_id FROM pairs ORDER BY a_id, b_id"

  /** DuckDB oracle for connected components over the minhash candidate
    * graph: a recursive CTE propagates reachable ids, so each node's
    * component is the min id it can reach — the same fixpoint the Spark
    * label-propagation loop converges to. */
  private val componentsOracleSql: String =
    "WITH RECURSIVE " + minhashPairCtes + ",\n" +
      """edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION ALL SELECT b_id, a_id FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |labels AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id)
        |SELECT component, count(*) AS n_docs, max(doc_id) AS max_doc
        |FROM labels GROUP BY component ORDER BY component""".stripMargin

  /** [[componentsOracleSql]] restricted to the pairs SURVIVING a corpus
    * deletion of `doc_id % 101 == 0` — the from-scratch closure the
    * persisted ledger's affected-component retire surgery must
    * reproduce. */
  private val componentsRetireOracleSql: String =
    "WITH RECURSIVE " + minhashPairCtes + ",\n" +
      """spairs AS (
        |  SELECT a_id, b_id FROM pairs
        |  WHERE a_id % 101 <> 0 AND b_id % 101 <> 0),
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM spairs
        |  UNION ALL SELECT b_id, a_id FROM spairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |labels AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id)
        |SELECT component, count(*) AS n_docs, max(doc_id) AS max_doc
        |FROM labels GROUP BY component ORDER BY component""".stripMargin

  /** Oracle for the SEMANTIC dup-cluster ledger: the gate's edge set is
    * batch-vs-index cosine collisions within the batch's assigned
    * clusters PLUS intra-batch within-cluster pairs (what
    * `AnnIndex.admitIfNovel(components=...)` folds), and the persisted
    * ledger must equal the recursive-CTE closure over exactly those
    * edges. Quantizer replay = [[kmeansCtesOver]] (frozen centroids
    * `c1`, corpus assignment `a2`); batch routing replays
    * `Clustering.assign`'s (score, cluster) tie-break; the cosine gate
    * is the engine's own 6-dp-rounded definition. */
  private val componentsSemanticOracleSql: String = {
    def seqDot(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, len($a) + 1), i -> " +
        s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"
    "WITH RECURSIVE " + kmeansCtesOver("NOT (vec_id % 5 = 0)", 4) + ",\n" +
      s"""cn AS (SELECT vec_id, cluster, embedding,
         |    sqrt(${seqDot("embedding", "embedding")}) AS v_norm FROM a2),
         |b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
         |bscore AS (
         |  SELECT b.vec_id, c1.c,
         |    -2.0 * list_reduce(list_transform(range(1, len(b.embedding) + 1),
         |        i -> CAST(b.embedding[i] AS DOUBLE) * cv[i]), (x, y) -> x + y)
         |      + list_reduce(list_transform(cv, x -> x * x), (x, y) -> x + y) AS score
         |  FROM b, c1),
         |bn AS (
         |  SELECT b.vec_id, b.embedding, r.cluster,
         |    sqrt(${seqDot("b.embedding", "b.embedding")}) AS v_norm
         |  FROM b JOIN (
         |    SELECT vec_id, c AS cluster FROM
         |      (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score, c) AS rn
         |       FROM bscore) WHERE rn = 1) r ON b.vec_id = r.vec_id),
         |bi AS (
         |  SELECT bn.vec_id AS a_id, cn.vec_id AS b_id
         |  FROM bn JOIN cn ON bn.cluster = cn.cluster
         |  WHERE round(${seqDot("bn.embedding", "cn.embedding")}
         |      / (bn.v_norm * cn.v_norm), 6) >= 0.35),
         |bb AS (
         |  SELECT x.vec_id AS a_id, y.vec_id AS b_id
         |  FROM bn x JOIN bn y ON x.cluster = y.cluster AND x.vec_id <> y.vec_id
         |  WHERE round(${seqDot("x.embedding", "y.embedding")}
         |      / (x.v_norm * y.v_norm), 6) >= 0.35),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM bi
         |  UNION SELECT b_id, a_id FROM bi
         |  UNION SELECT a_id, b_id FROM bb
         |  UNION SELECT b_id, a_id FROM bb),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e2.src, reach.r FROM edges e2 JOIN reach ON e2.dst = reach.id),
         |labels AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id)
         |SELECT component, count(*) AS n_docs, max(doc_id) AS max_doc
         |FROM labels GROUP BY component ORDER BY component""".stripMargin
  }

  /** DuckDB oracle twin of [[Dedup.simhashCandidates]] (60-bit signature,
    * 4 pigeonhole blocks of 15 bits, maxHamming=3) over all documents. */
  private val simhashOracleSql: String = {
    val h60 = PortableHash.duckDbMd5Number("tok", 15)
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
       |  FROM documents),
       |hs AS (SELECT doc_id, $h60 AS h FROM tok),
       |pm AS (
       |  SELECT doc_id, bit,
       |    CASE WHEN (h >> CAST(bit AS INT)) & 1 = 1 THEN 1 ELSE -1 END AS pm
       |  FROM hs, range(0, 60) t(bit)),
       |s AS (SELECT doc_id, bit, CAST(sum(pm) AS BIGINT) AS s FROM pm GROUP BY 1, 2),
       |sig AS (
       |  SELECT doc_id, CAST(sum(CASE WHEN s > 0
       |    THEN CAST(1 AS BIGINT) << CAST(bit AS INT) ELSE 0 END) AS BIGINT) AS sig
       |  FROM s GROUP BY doc_id),
       |blk AS (
       |  SELECT doc_id, sig, b AS block,
       |    (sig >> CAST(b * 15 AS INT)) & 32767 AS bv
       |  FROM sig, range(0, 4) t(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |    CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       |  FROM blk a JOIN blk b
       |    ON a.block = b.block AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, hamming FROM cand WHERE hamming <= 3
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** DuckDB oracle twin of [[Similarity.lshAnn]] (6 hyperplanes, k=3,
    * probes vec_id < 10): same integer-mix plane weights, same sequential
    * left-fold dot products, so signs/buckets/similarities match exactly. */
  private val lshOracleSql: String = {
    def seqDot(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, len($a) + 1), i -> " +
        s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"
    val bucket = (0 until 6).map { p =>
      s"(CASE WHEN ${VecOps.duckDbPlaneDot("embedding", p)} > 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding, $bucket AS bucket,
       |    sqrt(${seqDot("embedding", "embedding")}) AS v_norm
       |  FROM embeddings),
       |p AS (SELECT vec_id AS q_id, bucket, embedding AS q_emb, v_norm AS q_norm
       |      FROM e WHERE vec_id < 10),
       |c AS (SELECT vec_id AS c_id, bucket, embedding AS c_emb, v_norm AS c_norm FROM e),
       |j AS (
       |  SELECT q_id, p.bucket AS bucket, c_id,
       |    round(${seqDot("c_emb", "q_emb")} / (c_norm * q_norm), 6) AS sim
       |  FROM p JOIN c ON p.bucket = c.bucket AND q_id <> c_id),
       |r AS (SELECT q_id, bucket, c_id, sim,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INT) AS rn
       |  FROM j)
       |SELECT q_id, bucket, c_id, sim, rn FROM r WHERE rn <= 3
       |ORDER BY q_id, rn""".stripMargin
  }

  // --- kmeans oracle machinery (shared by q_kmeans and q_ann_kmeans) ---

  /** Assignment CTE pair against a centroid CTE `centName (c, cv)`. */
  private def kmAssignStage(dName: String, aName: String, centName: String): String =
    s"""$dName AS (
       |  SELECT e.vec_id, e.embedding, $centName.c,
       |    -2.0 * list_reduce(list_transform(range(1, len(e.embedding) + 1),
       |        i -> CAST(e.embedding[i] AS DOUBLE) * cv[i]), (x, y) -> x + y)
       |      + list_reduce(list_transform(cv, x -> x * x), (x, y) -> x + y) AS score
       |  FROM e, $centName),
       |$aName AS (
       |  SELECT vec_id, embedding, c AS cluster FROM
       |    (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score, c) AS rn
       |     FROM $dName)
       |  WHERE rn = 1)""".stripMargin

  /** Quantized per-(cluster, dim) sum CTE over an assignment CTE. Dims
    * come from zipped unnest/generate_subscripts over the embedding
    * itself — derived from the data, so a fixture dimension change keeps
    * the oracle correct instead of silently NULL-padding a hardcoded
    * bound. */
  private def kmSumStage(sName: String, aName: String): String =
    s"""$sName AS (
       |  SELECT cluster, dim,
       |    CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000.0)
       |      AS BIGINT)) AS BIGINT) AS sq,
       |    count(*) AS cnt
       |  FROM (SELECT cluster, unnest(embedding) AS x,
       |          generate_subscripts(embedding, 1) AS dim FROM $aName)
       |  GROUP BY 1, 2)""".stripMargin

  /** [[kmeansCtes]] over a FILTERED source (`WHERE srcWhere`) with a
    * generic lowest-`k`-ids init (row_number, not a hardcoded id bound —
    * the filtered corpus's low ids need not start at 0). Same stages,
    * same tie orders, ends at assignment `a2` under updated centroids
    * `c1`. */
  private def kmeansCtesOver(srcWhere: String, k: Int): String =
    s"""e AS (SELECT vec_id, embedding FROM embeddings WHERE $srcWhere),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
       |  FROM (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT $k)),
       |${kmAssignStage("d1", "a1", "c0")},
       |${kmSumStage("s1", "a1")},
       |c1n AS (
       |  SELECT cluster AS c,
       |    list(CAST(sq AS DOUBLE) / (cnt * 1000000.0) ORDER BY dim) AS cv
       |  FROM s1 GROUP BY cluster),
       |c1 AS (
       |  SELECT c0.c, COALESCE(c1n.cv, c0.cv) AS cv
       |  FROM c0 LEFT JOIN c1n ON c0.c = c1n.c),
       |${kmAssignStage("d2", "a2", "c1")}""".stripMargin

  /** CTE chain reproducing [[Clustering.kmeans]] (k=4, iters=2, quant=1e6)
    * through the final assignment `a2` under updated centroids `c1`: same
    * init (4 lowest ids), same sequential score folds, same
    * integer-quantized centroid update, same (score, id) tie-break. */
  private val kmeansCtes: String =
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (
       |  SELECT CAST(vec_id AS INT) AS c,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
       |  FROM e WHERE vec_id < 4),
       |${kmAssignStage("d1", "a1", "c0")},
       |${kmSumStage("s1", "a1")},
       |c1n AS (
       |  SELECT cluster AS c,
       |    list(CAST(sq AS DOUBLE) / (cnt * 1000000.0) ORDER BY dim) AS cv
       |  FROM s1 GROUP BY cluster),
       |c1 AS (
       |  SELECT c0.c, COALESCE(c1n.cv, c0.cv) AS cv
       |  FROM c0 LEFT JOIN c1n ON c0.c = c1n.c),
       |${kmAssignStage("d2", "a2", "c1")}""".stripMargin

  /** DuckDB oracle twin of [[Clustering.kmeans]] +
    * [[Clustering.clusterStats]]. */
  private val kmeansOracleSql: String =
    "WITH " + kmeansCtes + ",\n" + kmSumStage("s2", "a2") + "\n" +
      """SELECT sz.cluster, sz.n_vecs, fp.centroid_fp
        |FROM (SELECT cluster, count(*) AS n_vecs FROM a2 GROUP BY 1) sz
        |JOIN (SELECT cluster,
        |        CAST(sum((sq % 1000000007) * dim) % 1000000007 AS BIGINT) AS centroid_fp
        |      FROM s2 GROUP BY 1) fp
        |  USING (cluster)
        |ORDER BY cluster""".stripMargin

  /** DuckDB oracle for IVF search with the LEARNED kmeans quantizer: the
    * final kmeans assignment partitions the corpus, probes search only
    * their own cluster, cosine with hoisted norms, top-1 per probe. */
  private val annKmeansOracleSql: String = {
    def seqDot(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, len($a) + 1), i -> " +
        s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"
    "WITH " + kmeansCtes + ",\n" +
      s"""an AS (SELECT vec_id, embedding, cluster,
         |  sqrt(${seqDot("embedding", "embedding")}) AS v_norm FROM a2),
         |p AS (SELECT vec_id AS q_id, cluster, embedding AS q_emb, v_norm AS q_norm
         |      FROM an WHERE vec_id < 10),
         |c AS (SELECT vec_id AS c_id, cluster, embedding AS c_emb, v_norm AS c_norm FROM an),
         |j AS (
         |  SELECT q_id, p.cluster AS cluster, c_id,
         |    round(${seqDot("c_emb", "q_emb")} / (c_norm * q_norm), 6) AS sim
         |  FROM p JOIN c ON p.cluster = c.cluster AND q_id <> c_id),
         |r AS (SELECT q_id, cluster, c_id, sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn
         |  FROM j)
         |SELECT q_id, cluster, c_id, sim FROM r WHERE rn = 1
         |ORDER BY q_id""".stripMargin
  }

  /** DuckDB oracle twin of [[Similarity.hardNegativesIvf]] (k=3,
    * kClusters=4, iters=2, nProbe=2): the kmeans reproduction's final
    * assignment `a2` partitions the corpus; each probe routes to its 2
    * nearest UPDATED centroids (`c1`) by the same (score, id) order as
    * the multi-probe `array_sort`; candidates come from the cluster
    * equi-join with the label filter; per-probe top-3 by (sim DESC, id). */
  private val hardNegIvfOracleSql: String = {
    def seqDot(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, len($a) + 1), i -> " +
        s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"
    "WITH " + kmeansCtes + ",\n" +
      s"""an AS (SELECT a2.vec_id, a2.embedding, a2.cluster, em.label,
         |  sqrt(${seqDot("a2.embedding", "a2.embedding")}) AS v_norm
         |  FROM a2 JOIN embeddings em ON em.vec_id = a2.vec_id),
         |pscore AS (
         |  SELECT e.vec_id, c1.c,
         |    -2.0 * list_reduce(list_transform(range(1, len(e.embedding) + 1),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * cv[i]), (x, y) -> x + y)
         |      + list_reduce(list_transform(cv, x -> x * x), (x, y) -> x + y) AS score
         |  FROM e, c1 WHERE e.vec_id < 10),
         |route AS (
         |  SELECT vec_id AS q_id, c AS cluster FROM
         |    (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score, c) AS cr
         |     FROM pscore)
         |  WHERE cr <= 2),
         |p AS (SELECT r.q_id, r.cluster, an.label AS q_label,
         |        an.embedding AS q_emb, an.v_norm AS q_norm
         |      FROM route r JOIN an ON an.vec_id = r.q_id),
         |c AS (SELECT vec_id AS c_id, cluster, label AS c_label,
         |        embedding AS c_emb, v_norm AS c_norm FROM an),
         |j AS (
         |  SELECT q_id, q_label, c_id, c_label,
         |    round(${seqDot("c_emb", "q_emb")} / (c_norm * q_norm), 6) AS sim
         |  FROM p JOIN c USING (cluster) WHERE c_label <> q_label),
         |r AS (SELECT q_id, q_label, c_id, c_label, sim,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY sim DESC, c_id) AS INT) AS rn
         |  FROM j)
         |SELECT q_id, q_label, c_id, c_label, sim, rn FROM r WHERE rn <= 3
         |ORDER BY q_id, rn""".stripMargin
  }

  /** DuckDB oracle twin of [[Similarity.semDeDup]] (k=4, iters=2,
    * threshold 0.35): the kmeans reproduction's final assignment `a2`
    * partitions the corpus, in-cluster ordered pairs above the rounded
    * cosine threshold, min-id `dup_of` per dropped vector. */
  private val semDeDupOracleSql: String = {
    def seqDot(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, len($a) + 1), i -> " +
        s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"
    "WITH " + kmeansCtes + ",\n" +
      s"""an AS (SELECT vec_id, embedding, cluster,
         |  sqrt(${seqDot("embedding", "embedding")}) AS v_norm FROM a2),
         |p AS (
         |  SELECT a.cluster AS cluster, a.vec_id AS a_id, b.vec_id AS b_id,
         |    round(${seqDot("a.embedding", "b.embedding")}
         |      / (a.v_norm * b.v_norm), 6) AS sim
         |  FROM an a JOIN an b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
         |SELECT b_id AS vec_id, cluster, min(a_id) AS dup_of, max(sim) AS max_sim
         |FROM p WHERE sim >= 0.35
         |GROUP BY 1, 2 ORDER BY vec_id""".stripMargin
  }

  /** Score expression against a codebook/centroid CTE's `cv` list —
    * shared by the PQ reproductions. */
  private def pqScoreSql(eAlias: String): String =
    s"""-2.0 * list_reduce(list_transform(range(1, len($eAlias.embedding) + 1),
       |        i -> CAST($eAlias.embedding[i] AS DOUBLE) * cv[i]), (x, y) -> x + y)
       |      + list_reduce(list_transform(cv, x -> x * x), (x, y) -> x + y)""".stripMargin

  /** One subspace's full PQ reproduction chain (slice → init → assign →
    * integer-quantized update → assign → per-probe LUT), shared by
    * q_ann_pq and q_ann_ivfpq: CTEs `p{j}e..p{j}a2` (final codes in
    * `p{j}a2.cluster`) and `p{j}lut` (probes vec_id<10, entries
    * `floor((-2·q⋅c + |c|²)·1e6)` BIGINTs). */
  private def pqSubCtes(j: Int, k: Int, subDim: Int): String = {
    val lo = j * subDim + 1; val hi = (j + 1) * subDim
    def score(eAlias: String): String = pqScoreSql(eAlias)
    s"""p${j}e AS (
       |  SELECT vec_id, list_slice(embedding, $lo, $hi) AS embedding
       |  FROM embeddings),
       |p${j}c0 AS (
       |  SELECT CAST(vec_id AS INT) AS c,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
       |  FROM p${j}e WHERE vec_id < $k),
       |p${j}d1 AS (
       |  SELECT e.vec_id, e.embedding, p${j}c0.c,
       |    ${score("e")} AS score
       |  FROM p${j}e e, p${j}c0),
       |p${j}a1 AS (
       |  SELECT vec_id, embedding, c AS cluster FROM
       |    (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score, c) AS rn
       |     FROM p${j}d1)
       |  WHERE rn = 1),
       |p${j}s1 AS (
       |  SELECT cluster, dim,
       |    CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000.0)
       |      AS BIGINT)) AS BIGINT) AS sq,
       |    count(*) AS cnt
       |  FROM (SELECT cluster, unnest(embedding) AS x,
       |          generate_subscripts(embedding, 1) AS dim FROM p${j}a1)
       |  GROUP BY 1, 2),
       |p${j}c1n AS (
       |  SELECT cluster AS c,
       |    list(CAST(sq AS DOUBLE) / (cnt * 1000000.0) ORDER BY dim) AS cv
       |  FROM p${j}s1 GROUP BY cluster),
       |p${j}c1 AS (
       |  SELECT p${j}c0.c, COALESCE(p${j}c1n.cv, p${j}c0.cv) AS cv
       |  FROM p${j}c0 LEFT JOIN p${j}c1n ON p${j}c0.c = p${j}c1n.c),
       |p${j}d2 AS (
       |  SELECT e.vec_id, e.embedding, p${j}c1.c,
       |    ${score("e")} AS score
       |  FROM p${j}e e, p${j}c1),
       |p${j}a2 AS (
       |  SELECT vec_id, embedding, c AS cluster FROM
       |    (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score, c) AS rn
       |     FROM p${j}d2)
       |  WHERE rn = 1),
       |p${j}lut AS (
       |  SELECT pr.vec_id AS q_id, c1.c AS code,
       |    CAST(floor((${score("pr")}) * 1000000.0) AS BIGINT) AS part_micro
       |  FROM (SELECT vec_id, list_slice(embedding, $lo, $hi) AS embedding
       |        FROM embeddings WHERE vec_id < 10) pr, p${j}c1 c1)""".stripMargin
  }

  /** DuckDB oracle twin of [[Similarity.pqSearch]] (m=4 subspaces ×
    * 16 dims, k=8, iters=2, probes vec_id<10, top-5): one full
    * per-subspace Lloyd reproduction (same machinery as [[kmeansCtes]],
    * over `list_slice`s), then the ADC join — per-probe LUT entries
    * `floor((-2·q⋅c + |c|²)·1e6)` summed over subspaces as exact
    * integers. */
  private val pqOracleSql: String = {
    val m = 4; val k = 8; val subDim = 16; val topK = 5
    def sub(j: Int): String = pqSubCtes(j, k, subDim)
    val subs = (0 until m).map(sub).mkString(",\n")
    val cands = (0 until m).map(j =>
      s"SELECT vec_id AS c_id, $j AS sub, cluster AS code FROM p${j}a2")
      .mkString("\n  UNION ALL ")
    val luts = (0 until m).map(j =>
      s"SELECT q_id, $j AS sub, code, part_micro FROM p${j}lut")
      .mkString("\n  UNION ALL ")
    s"""WITH $subs,
       |cands AS (
       |  $cands),
       |lut AS (
       |  $luts),
       |sc AS (
       |  SELECT q_id, c_id, CAST(sum(part_micro) AS BIGINT) AS adc_micro
       |  FROM cands JOIN lut USING (sub, code)
       |  WHERE c_id <> q_id
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT q_id, c_id, adc_micro,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc_micro, c_id)
       |      AS INT) AS rn
       |  FROM sc)
       |SELECT q_id, c_id, adc_micro, rn FROM r WHERE rn <= $topK
       |ORDER BY q_id, rn""".stripMargin
  }

  /** DuckDB oracle twin of [[Similarity.ivfPqSearch]] (coarse kmeans
    * k=4/iters=2, m=4 subspaces × 16 dims, pqK=8, probes vec_id<10,
    * nProbe=2, rerank=10, topK=5) — the full IVF-PQ serving shape: the
    * coarse reproduction's final assignment `a2` partitions the corpus
    * into inverted lists; each probe routes to its 2 nearest UPDATED
    * centroids (`c1`, same (score, id) order as the multi-probe
    * `array_sort`); the ADC scan sums per-subspace LUT BIGINTs over
    * candidates in the ROUTED lists only; the top-10 shortlist per
    * probe (adc ASC, id) reranks by exact rounded cosine; final top-5
    * by (sim DESC, id). */
  private val ivfPqOracleSql: String = {
    val m = 4; val pqK = 8; val subDim = 16; val nProbe = 2
    val rerank = 10; val topK = 5
    def seqDot(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, len($a) + 1), i -> " +
        s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"
    val subs = (0 until m).map(pqSubCtes(_, pqK, subDim)).mkString(",\n")
    val cands = (0 until m).map(j =>
      s"SELECT vec_id AS c_id, $j AS sub, cluster AS code FROM p${j}a2")
      .mkString("\n  UNION ALL ")
    val luts = (0 until m).map(j =>
      s"SELECT q_id, $j AS sub, code, part_micro FROM p${j}lut")
      .mkString("\n  UNION ALL ")
    "WITH " + kmeansCtes + ",\n" + subs + ",\n" +
      s"""an AS (SELECT vec_id, embedding, cluster,
         |  sqrt(${seqDot("embedding", "embedding")}) AS v_norm FROM a2),
         |pscore AS (
         |  SELECT e.vec_id, c1.c,
         |    -2.0 * list_reduce(list_transform(range(1, len(e.embedding) + 1),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * cv[i]), (x, y) -> x + y)
         |      + list_reduce(list_transform(cv, x -> x * x), (x, y) -> x + y) AS score
         |  FROM e, c1 WHERE e.vec_id < 10),
         |route AS (
         |  SELECT vec_id AS q_id, c AS cluster FROM
         |    (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score, c) AS cr
         |     FROM pscore)
         |  WHERE cr <= $nProbe),
         |cands AS (
         |  $cands),
         |lut AS (
         |  $luts),
         |sc AS (
         |  SELECT r.q_id, a2c.cluster, cd.c_id,
         |    CAST(sum(part_micro) AS BIGINT) AS adc_micro
         |  FROM route r
         |  JOIN a2 a2c ON a2c.cluster = r.cluster
         |  JOIN cands cd ON cd.c_id = a2c.vec_id
         |  JOIN lut ON lut.q_id = r.q_id AND lut.sub = cd.sub AND lut.code = cd.code
         |  WHERE cd.c_id <> r.q_id
         |  GROUP BY 1, 2, 3),
         |short AS (
         |  SELECT q_id, cluster, c_id, adc_micro,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adc_micro, c_id) AS arn
         |  FROM sc),
         |rr AS (
         |  SELECT s.q_id, s.cluster, s.c_id, s.adc_micro,
         |    round(${seqDot("c.embedding", "q.embedding")}
         |      / (c.v_norm * q.v_norm), 6) AS sim
         |  FROM short s
         |  JOIN an c ON c.vec_id = s.c_id
         |  JOIN an q ON q.vec_id = s.q_id
         |  WHERE s.arn <= $rerank),
         |fin AS (
         |  SELECT q_id, cluster, c_id, adc_micro, sim,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
         |      AS INT) AS rn
         |  FROM rr)
         |SELECT q_id, cluster, c_id, adc_micro, sim, rn FROM fin WHERE rn <= $topK
         |ORDER BY q_id, rn""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // Deterministic Lloyd k-means over embeddings: cluster sizes +
    // integer centroid checksums after 2 rounds (k=4)
    Q("q_kmeans",
      (s, d) => Clustering.clusterStats(Clustering.kmeans(embeddings(s, d), 4, 2)),
      Some(kmeansOracleSql)),

    // Deterministic train/val/test split by key hash: per-(lang, split)
    // counts — stable under re-partitioning, reproducible in any engine
    Q("q_sample_split", {
      val weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      (s, d) => Sampling.assignSplit(documents(s, d),
          col("doc_id").cast("string"), weights)
        .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "split")
      },
      Some {
        val h = PortableHash.duckDbMd5Number("CAST(doc_id AS VARCHAR)", 8)
        val thrs = Sampling.splitThresholds(
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        val cases = thrs.init.map { case (n, t) => s"WHEN bucket < $t THEN '$n'" }
          .mkString(" ")
        s"""WITH b AS (SELECT lang, $h % 10000 AS bucket FROM documents)
           |SELECT lang,
           |  CASE $cases ELSE '${thrs.last._1}' END AS split,
           |  count(*) AS n_docs
           |FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin
      }),

    // Deterministic sharding + global shuffle for training export:
    // shard = key-hash mod 8, shard_pos = hash-order rank within the
    // shard — per-row assignment, reproducible across engines/runs
    Q("q_shard",
      (s, d) => Sampling.shardAssign(
          documents(s, d).filter(col("doc_id") < 2000)
            .select("doc_id"),
          col("doc_id").cast("string"), 8)
        .orderBy("doc_id"),
      Some {
        val h = PortableHash.duckDbMd5Number("CAST(doc_id AS VARCHAR)", 15)
        s"""WITH b AS (
           |  SELECT doc_id, $h AS h FROM documents WHERE doc_id < 2000)
           |SELECT doc_id, CAST(h % 8 AS INT) AS shard,
           |  CAST(row_number() OVER (PARTITION BY h % 8
           |    ORDER BY h, CAST(doc_id AS VARCHAR)) - 1 AS BIGINT) AS shard_pos
           |FROM b ORDER BY doc_id""".stripMargin
      }),

    // Per-language stratified sampling rates, hash-keyed on the text
    Q("q_sample_strat", {
      val fr = Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.3, "es" -> 0.2, "zh" -> 0.1)
      (s, d) => Sampling.stratifiedSample(documents(s, d),
          col("lang"), col("text"), fr)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")
      },
      Some {
        val h = PortableHash.duckDbMd5Number("text", 8)
        val fr = Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.3, "es" -> 0.2, "zh" -> 0.1)
        val cases = fr.toSeq.sortBy(_._1)
          .map { case (l, f) => s"WHEN '$l' THEN ${(f * 4294967296L).toLong}" }
          .mkString(" ")
        s"""SELECT lang, count(*) AS n_kept FROM documents
           |WHERE $h < (CASE lang $cases ELSE 0 END)
           |GROUP BY lang ORDER BY lang""".stripMargin
      }),

    // Exact dedup: distinct normalized docs per language
    Q("q_dedup_exact",
      (s, d) => documents(s, d)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(lower(trim(col("text")))).as("uniq_docs"))
        .orderBy("lang"),
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(count(DISTINCT lower(trim(text))) AS BIGINT) AS uniq_docs
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Per-language document statistics + deterministic top source
    Q("q_text_stats",
      (s, d) => {
        val docs = documents(s, d)
        val stats = docs.groupBy("lang").agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"))
          .withColumn("avg_chars",
            round(col("sum_chars").cast("double") / col("n_docs"), 2))
          .drop("sum_chars")
        val sc = docs.groupBy("lang", "source").agg(count(lit(1)).as("cnt"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("cnt").desc, col("source"))
        val top = sc.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("lang"), col("source").as("top_source"))
        stats.join(top, "lang").orderBy("lang")
      },
      Some("""WITH s AS (
             |  SELECT lang, count(*) AS n_docs,
             |    round(CAST(sum(n_chars) AS DOUBLE) / count(*), 2) AS avg_chars,
             |    min(n_chars) AS min_chars, max(n_chars) AS max_chars
             |  FROM documents GROUP BY lang),
             |sc AS (SELECT lang, source, count(*) AS cnt FROM documents GROUP BY 1, 2),
             |tops AS (
             |  SELECT lang, source AS top_source,
             |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, source) AS rn
             |  FROM sc)
             |SELECT s.lang, n_docs, avg_chars, min_chars, max_chars, top_source
             |FROM s JOIN tops ON s.lang = tops.lang AND rn = 1
             |ORDER BY s.lang""".stripMargin)),

    // Token counting: whitespace + BPE-ish regex tokens per language
    Q("q_token_count",
      (s, d) => TextStats.tokenStats(documents(s, d)),
      Some("""WITH t AS (
             |  SELECT lang,
             |    len(regexp_split_to_array(trim(text), '\s+')) AS ws_toks,
             |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_toks
             |  FROM documents)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(ws_toks) AS BIGINT) AS sum_ws,
             |  CAST(sum(bpe_toks) AS BIGINT) AS sum_bpe,
             |  round(CAST(sum(ws_toks) AS DOUBLE) / count(*), 2) AS avg_ws
             |FROM t GROUP BY lang ORDER BY lang""".stripMargin)),

    // Per-language top-5 vocabulary (token histogram, deterministic rank)
    Q("q_vocab_topk",
      (s, d) => TextStats.topTokens(documents(s, d), 5),
      Some("""WITH t AS (
             |  SELECT lang,
             |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
             |  FROM documents),
             |c AS (SELECT lang, tok, count(*) AS cnt FROM t GROUP BY 1, 2),
             |r AS (SELECT lang, tok, cnt,
             |    CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok)
             |      AS INT) AS rank
             |  FROM c)
             |SELECT lang, tok, cnt, rank FROM r WHERE rank <= 5
             |ORDER BY lang, rank""".stripMargin)),

    // Out-of-vocabulary rate vs the per-lang top-25 vocab — the
    // tokenizer-coverage check before fixing a vocab size
    Q("q_oov_rate",
      (s, d) => TextStats.oovRate(documents(s, d), 25),
      Some("""WITH t AS (
             |  SELECT lang,
             |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
             |  FROM documents),
             |c AS (SELECT lang, tok, count(*) AS cnt FROM t GROUP BY 1, 2),
             |r AS (SELECT lang, tok, cnt,
             |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS rank
             |  FROM c),
             |a AS (SELECT lang,
             |        CAST(sum(cnt) AS BIGINT) AS n_tokens,
             |        CAST(sum(CASE WHEN rank <= 25 THEN cnt ELSE 0 END)
             |          AS BIGINT) AS covered,
             |        count(*) AS vocab_size
             |      FROM r GROUP BY 1)
             |SELECT lang, n_tokens, covered, vocab_size,
             |  ((n_tokens - covered) * 1000) // n_tokens AS oov_permille
             |FROM a ORDER BY lang""".stripMargin)),

    // Incremental ingest dedup: the newest 1000 doc_ids checked against
    // the standing corpus by content digest — the daily-crawl append path
    // The "new shard" is every 10th doc id — a split that is non-empty
    // at EVERY scale factor (a fixed id threshold empties the increment
    // at small sf and silently turns the check vacuous)
    Q("q_dedup_incremental",
      (s, d) => graft.ops.Dedup.incrementalExact(
          documents(s, d).filter(col("doc_id") % 10 === 0),
          documents(s, d).filter(col("doc_id") % 10 =!= 0))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_new"),
          sum(when(col("is_dup"), 1L).otherwise(lit(0L))).as("n_dup"))
        .withColumn("n_ingested", col("n_new") - col("n_dup"))
        .orderBy("lang"),
      Some("""WITH inc AS (
             |  SELECT lang, md5(lower(trim(text))) AS digest
             |  FROM documents WHERE doc_id % 10 = 0),
             |corp AS (
             |  SELECT DISTINCT md5(lower(trim(text))) AS digest
             |  FROM documents WHERE doc_id % 10 <> 0)
             |SELECT lang,
             |  CAST(count(*) AS BIGINT) AS n_new,
             |  CAST(sum(CASE WHEN corp.digest IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_dup,
             |  CAST(count(*) - sum(CASE WHEN corp.digest IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_ingested
             |FROM inc LEFT JOIN corp USING (digest)
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Incremental NEAR-dedup: minhash bands of the ingest shard joined
    // against the standing corpus band index (no corpus self-pairing) —
    // lowest colliding corpus id + number of colliding bands per new doc
    Q("q_dedup_incr_near",
      (s, d) => graft.ops.Dedup.incrementalNearDup(
        documents(s, d).filter(col("doc_id") % 10 === 0),
        documents(s, d).filter(col("doc_id") % 10 =!= 0)),
      Some("WITH " + minhashPairCtes + ",\n" +
        """hits AS (
          |  SELECT i.doc_id AS doc_id, c.doc_id AS corpus_doc_id, i.band
          |  FROM flat i JOIN flat c ON i.band = c.band AND i.sig = c.sig
          |  WHERE i.doc_id % 10 = 0 AND c.doc_id % 10 <> 0)
          |SELECT doc_id, min(corpus_doc_id) AS dup_of,
          |  CAST(count(DISTINCT band) AS BIGINT) AS n_bands
          |FROM hits GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // CUBE grouping sets over (lang, source) with grouping_id
    // disambiguation (null group keys ordered explicitly — Spark and
    // DuckDB default null ordering differ)
    Q("q_cube",
      (s, d) => documents(s, d)
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), grouping_id().as("gid"))
        .orderBy(col("gid"), asc_nulls_first("lang"), asc_nulls_first("source")),
      Some("""SELECT lang, source, count(*) AS n_docs,
             |  CAST(GROUPING(lang, source) AS BIGINT) AS gid
             |FROM documents GROUP BY CUBE (lang, source)
             |ORDER BY gid, lang NULLS FIRST, source NULLS FIRST""".stripMargin)),

    // Quality-score decile histogram
    Q("q_quality_score",
      (s, d) => TextStats.qualityBuckets(documents(s, d)),
      Some("""WITH t AS (
             |  SELECT
             |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha,
             |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS wtok,
             |    CAST(length(regexp_replace(text, '[^.,!?]', '', 'g')) AS DOUBLE) AS punct
             |  FROM documents)
             |SELECT CAST(floor((0.5 * alpha
             |    + 0.3 * least(1.0, wtok / 100.0)
             |    + 0.2 * (1.0 - least(1.0, punct / 50.0))) * 10) AS BIGINT) AS bucket,
             |  count(*) AS cnt
             |FROM t GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // Per-source adaptive quality cut: top-20% per corpus by quality
    // (micro-quantized score, integer rank test — engine-exact)
    Q("q_quality_cut",
      (s, d) => TextStats.qualityCut(documents(s, d), keepPct = 20),
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |    CAST(floor((0.5 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text))
             |      + 0.3 * least(1.0, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) / 100.0)
             |      + 0.2 * (1.0 - least(1.0, CAST(length(regexp_replace(text, '[^.,!?]', '', 'g')) AS DOUBLE) / 50.0)))
             |      * 1000000.0) AS BIGINT) AS q_micro
             |  FROM documents),
             |r AS (
             |  SELECT source, q_micro,
             |    row_number() OVER (PARTITION BY source ORDER BY q_micro DESC, doc_id) AS rnk,
             |    count(*) OVER (PARTITION BY source) AS n_docs
             |  FROM t)
             |SELECT source, count(*) AS kept, max(n_docs) AS n_docs,
             |       min(q_micro) AS cut_micro
             |FROM r WHERE rnk * 100 <= n_docs * 20
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Gopher quality rules (Rae et al. 2021 A1.1): per-source census of
    // which documents fail which heuristic. All rule predicates are
    // integer cross-multiplications, so the flags (and therefore the
    // counts) are bit-identical across engines.
    Q("q_gopher_rules",
      (s, d) => TextStats.gopherRules(documents(s, d)),
      Some("""WITH t AS (
             |  SELECT source,
             |    regexp_split_to_array(trim(text), '\s+') AS words,
             |    length(regexp_replace(text, '\s', '', 'g')) AS wchars,
             |    (length(text) - length(replace(text, '#', '')))
             |      + (length(text) - length(replace(text, '...', ''))) // 3 AS symbols,
             |    string_split(text, chr(10)) AS lines
             |  FROM documents),
             |f AS (
             |  SELECT source,
             |    (len(words) < 50 OR len(words) > 100000) AS f_wordcount,
             |    (wchars < len(words) * 3 OR wchars > len(words) * 10) AS f_meanlen,
             |    (symbols * 10 > len(words)) AS f_symbol,
             |    (len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '• %' OR l LIKE '* %')) * 10
             |       > len(lines) * 9) AS f_bullet,
             |    (len(list_filter(lines, l -> l LIKE '%...')) * 10
             |       > len(lines) * 3) AS f_ellipsis,
             |    (len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) * 5
             |       < len(words) * 4) AS f_alpha,
             |    (len(list_intersect(list_transform(words, w -> lower(w)),
             |       ['the','be','to','of','and','that','have','with'])) < 2) AS f_stopword
             |  FROM t)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(CAST(f_wordcount AS INT)) AS BIGINT) AS fail_wordcount,
             |  CAST(sum(CAST(f_meanlen AS INT)) AS BIGINT) AS fail_meanlen,
             |  CAST(sum(CAST(f_symbol AS INT)) AS BIGINT) AS fail_symbol,
             |  CAST(sum(CAST(f_bullet AS INT)) AS BIGINT) AS fail_bullet,
             |  CAST(sum(CAST(f_ellipsis AS INT)) AS BIGINT) AS fail_ellipsis,
             |  CAST(sum(CAST(f_alpha AS INT)) AS BIGINT) AS fail_alpha,
             |  CAST(sum(CAST(f_stopword AS INT)) AS BIGINT) AS fail_stopword,
             |  CAST(sum(CAST(NOT (f_wordcount OR f_meanlen OR f_symbol OR f_bullet
             |    OR f_ellipsis OR f_alpha OR f_stopword) AS INT)) AS BIGINT) AS pass_all
             |FROM f GROUP BY source ORDER BY source""".stripMargin)),

    // Data-mixing weights: a per-language char budget (500k) turns into
    // per-source sampling rates (permille, integer arithmetic) and
    // expected sampled volume — the mixture-planning step before a
    // training run. One grouped agg + one per-lang window.
    Q("q_mix_weights",
      (s, d) => graft.ops.Mixing.mixWeights(documents(s, d), budgetChars = 500000L),
      Some("""WITH per_src AS (
             |  SELECT lang, source, CAST(sum(n_chars) AS BIGINT) AS src_chars
             |  FROM documents GROUP BY lang, source),
             |with_lang AS (
             |  SELECT lang, source, src_chars,
             |    CAST(sum(src_chars) OVER (PARTITION BY lang) AS BIGINT) AS lang_chars
             |  FROM per_src)
             |SELECT lang, source, src_chars, lang_chars,
             |  least(1000, (500000 * 1000) // lang_chars) AS rate_permille,
             |  (src_chars * least(1000, (500000 * 1000) // lang_chars)) // 1000
             |    AS sampled_chars
             |FROM with_lang ORDER BY lang, source""".stripMargin)),

    // Materialized mixture: the deterministic hash-gate APPLICATION of
    // q_mix_weights — per (lang, source) surviving doc count and chars
    Q("q_apply_mixture",
      (s, d) => graft.ops.Mixing.applyMixture(documents(s, d), budgetChars = 500000L)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("kept_chars"))
        .orderBy("lang", "source"),
      Some {
        val h = PortableHash.duckDbMd5Number("CAST(doc_id AS VARCHAR)", 8)
        s"""WITH per_src AS (
           |  SELECT lang, source, CAST(sum(n_chars) AS BIGINT) AS src_chars
           |  FROM documents GROUP BY lang, source),
           |rates AS (
           |  SELECT lang, source,
           |    least(1000, (500000 * 1000) // CAST(sum(src_chars)
           |      OVER (PARTITION BY lang) AS BIGINT)) AS rate_permille
           |  FROM per_src),
           |kept AS (
           |  SELECT d.lang, d.source, d.n_chars
           |  FROM documents d JOIN rates USING (lang, source)
           |  WHERE $h % 1000 < rate_permille)
           |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS kept_chars
           |FROM kept GROUP BY 1, 2 ORDER BY lang, source""".stripMargin
      }),

    // Temperature-scaled mixture weights (XLM/mT5 α=0.5 reweighting):
    // sqrt is the one fractional power IEEE requires to be correctly
    // rounded, so the quantized weights are engine-exact
    Q("q_temperature_mix",
      (s, d) => graft.ops.Mixing.temperatureWeights(documents(s, d)),
      Some("""WITH s AS (
             |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS src_chars
             |  FROM documents GROUP BY 1),
             |w AS (
             |  SELECT source, src_chars,
             |    CAST(floor(sqrt(CAST(src_chars AS DOUBLE)) * 1000000.0)
             |      AS BIGINT) AS w_micro
             |  FROM s),
             |t AS (
             |  SELECT source, src_chars, w_micro,
             |    CAST(sum(src_chars) OVER () AS BIGINT) AS total_chars,
             |    CAST(sum(w_micro) OVER () AS BIGINT) AS total_w
             |  FROM w)
             |SELECT source, src_chars, w_micro,
             |  (src_chars * 1000) // total_chars AS natural_permille,
             |  (w_micro * 1000) // total_w AS share_permille
             |FROM t ORDER BY source""".stripMargin)),

    // Epoch/repeat planner: temperature shares of a 400k-char budget turn
    // into per-source repeat factors (milli-epochs, capped at 2.0 — the
    // repeated-data guidance of arXiv:2305.16264); planned < target
    // reports the shortfall where the cap binds
    Q("q_epoch_plan",
      (s, d) => graft.ops.Mixing.epochPlan(documents(s, d),
        budgetChars = 400000L, maxEpochsMilli = 2000L),
      Some("""WITH s AS (
             |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS src_chars
             |  FROM documents GROUP BY 1),
             |w AS (
             |  SELECT source, src_chars,
             |    CAST(floor(sqrt(CAST(src_chars AS DOUBLE)) * 1000000.0)
             |      AS BIGINT) AS w_micro
             |  FROM s),
             |t AS (
             |  SELECT source, src_chars, w_micro,
             |    (w_micro * 1000) // CAST(sum(w_micro) OVER () AS BIGINT)
             |      AS share_permille
             |  FROM w),
             |p AS (
             |  SELECT source, src_chars, w_micro, share_permille,
             |    (400000 * share_permille) // 1000 AS target_chars
             |  FROM t)
             |SELECT source, src_chars, w_micro, share_permille, target_chars,
             |  least(2000, (target_chars * 1000) // src_chars) AS epochs_milli,
             |  (src_chars * least(2000, (target_chars * 1000) // src_chars)) // 1000
             |    AS planned_chars
             |FROM p ORDER BY source""".stripMargin)),

    // Token-budget quality calibration: per language, the quality
    // threshold whose kept volume fits a 10k-char budget — binned by
    // milli-score (≤1001 bins/lang: the shuffle carries bins, not docs)
    Q("q_budget_threshold",
      (s, d) => TextStats.budgetThreshold(documents(s, d), budgetChars = 10000L),
      Some("""WITH t AS (
             |  SELECT lang, n_chars,
             |    CAST(floor((0.5 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text))
             |      + 0.3 * least(1.0, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) / 100.0)
             |      + 0.2 * (1.0 - least(1.0, CAST(length(regexp_replace(text, '[^.,!?]', '', 'g')) AS DOUBLE) / 50.0)))
             |      * 1000) AS BIGINT) AS q_milli
             |  FROM documents),
             |b AS (
             |  SELECT lang, q_milli, count(*) AS n_docs,
             |    CAST(sum(n_chars) AS BIGINT) AS bin_chars
             |  FROM t GROUP BY 1, 2),
             |c AS (
             |  SELECT lang, q_milli,
             |    CAST(sum(n_docs) OVER (PARTITION BY lang ORDER BY q_milli DESC)
             |      AS BIGINT) AS cum_docs,
             |    CAST(sum(bin_chars) OVER (PARTITION BY lang ORDER BY q_milli DESC)
             |      AS BIGINT) AS cum_chars
             |  FROM b)
             |SELECT lang, min(q_milli) AS threshold_milli,
             |  max(cum_docs) AS kept_docs, max(cum_chars) AS kept_chars
             |FROM c WHERE cum_chars <= 10000
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Cross-split leakage audit: 64-char-prefix content fingerprints
    // (the SQL-expressible near-dup proxy — template spam shares its
    // head) whose duplicate groups straddle the 80/10/10 doc-id-hash
    // split; the engine API takes any fingerprint column (exact digest,
    // minhash band) through the same digest-keyed shape
    Q("q_split_leakage",
      (s, d) => Sampling.splitLeakage(documents(s, d),
        col("doc_id").cast("string"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        md5(lower(trim(substring(col("text"), 1, 64))))),
      Some {
        val h = PortableHash.duckDbMd5Number("CAST(doc_id AS VARCHAR)", 8)
        val thrs = Sampling.splitThresholds(
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        val cases = thrs.init.map { case (n, t) => s"WHEN bucket < $t THEN '$n'" }
          .mkString(" ")
        s"""WITH b AS (
           |  SELECT lang, md5(lower(trim(substr(text, 1, 64)))) AS fp,
           |    $h % 10000 AS bucket
           |  FROM documents),
           |s AS (
           |  SELECT lang, fp,
           |    CASE $cases ELSE '${thrs.last._1}' END AS split
           |  FROM b),
           |g AS (
           |  SELECT lang, fp, count(DISTINCT split) AS n_splits,
           |    count(*) AS n_docs
           |  FROM s GROUP BY 1, 2 HAVING count(*) > 1)
           |SELECT lang, count(*) AS dup_groups,
           |  CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS leak_groups,
           |  CAST(sum(CASE WHEN n_splits > 1 THEN n_docs ELSE 0 END) AS BIGINT)
           |    AS leaked_docs
           |FROM g GROUP BY 1 ORDER BY lang""".stripMargin
      }),

    // Marker-based language ID vs labeled lang
    Q("q_lang_id",
      (s, d) => TextStats.langId(documents(s, d)),
      Some("""WITH t AS (
             |  SELECT lang,
             |    CASE
             |      WHEN length(text) - length(replace(text, '的', '')) > 0 THEN 'zh'
             |      WHEN length(text) - length(replace(text, ' der ', '')) > 0 THEN 'de'
             |      WHEN length(text) - length(replace(text, ' le ', '')) > 0 THEN 'fr'
             |      WHEN length(text) - length(replace(text, ' el ', '')) > 0 THEN 'es'
             |      WHEN length(text) - length(replace(text, ' the ', '')) > 0 THEN 'en'
             |      ELSE 'unknown' END AS predicted,
             |    CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS BIGINT) AS occ_the
             |  FROM documents)
             |SELECT lang, predicted, count(*) AS cnt,
             |  CAST(sum(occ_the) AS BIGINT) AS sum_the
             |FROM t GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin)),

    // Deterministic document fingerprints
    Q("q_doc_fingerprint",
      (s, d) => documents(s, d)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          TextStats.fingerprint("text", col("n_chars")).as("fp"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  (n_chars * 1000003
             |   + (length(text) - length(replace(text, ' ', ''))) * 10007
             |   + ascii(substr(text, 1, 1)) * 101
             |   + ascii(substr(text, length(text), 1))) % 1000000007 AS fp
             |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin)),

    // Character-3-gram Jaccard similarity for same-language doc pairs
    Q("q_ngram_jaccard",
      (s, d) => Dedup.ngramJaccard(
        documents(s, d).filter(col("doc_id") < 20), 3),
      Some("""WITH d AS (
             |  SELECT doc_id, lang, text FROM documents
             |  WHERE doc_id < 20 AND length(text) >= 3),
             |g AS (
             |  SELECT DISTINCT doc_id, lang, substr(text, CAST(i AS INT), 3) AS gram
             |  FROM (SELECT doc_id, lang, text,
             |          unnest(range(1, length(text) - 1)) AS i FROM d)),
             |sz AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
             |iv AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
             |  FROM g a JOIN g b
             |    ON a.gram = b.gram AND a.lang = b.lang AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT a_id, b_id,
             |  round(CAST(inter AS DOUBLE) / (sa.n_grams + sb.n_grams - inter), 6) AS jaccard
             |FROM iv
             |JOIN sz sa ON sa.doc_id = a_id
             |JOIN sz sb ON sb.doc_id = b_id
             |ORDER BY a_id, b_id""".stripMargin)),

    // Cluster-balanced downsampling: every learned kmeans cluster capped
    // at 30 members by stable hash priority — dominant topics cannot
    // crowd out the tail of a training mix
    Q("q_cluster_sample",
      (s, d) => Sampling.clusterBalancedSample(embeddings(s, d),
        k = 4, iters = 2, cap = 30),
      Some {
        val h = PortableHash.duckDbMd5Number("CAST(vec_id AS VARCHAR)", 15)
        "WITH " + kmeansCtes + ",\n" +
          s"""p AS (SELECT CAST(cluster AS INT) AS cluster, vec_id, $h AS pr
             |      FROM a2),
             |r AS (
             |  SELECT cluster, vec_id,
             |    CAST(row_number() OVER (PARTITION BY cluster
             |      ORDER BY pr, CAST(vec_id AS VARCHAR)) AS INT) AS sample_rank
             |  FROM p)
             |SELECT cluster, sample_rank, vec_id FROM r WHERE sample_rank <= 30
             |ORDER BY cluster, sample_rank""".stripMargin
      }),

    // Brute-force cosine top-5 of query vector 0
    Q("q_embed_knn",
      (s, d) => Similarity.knn(embeddings(s, d), 0L, 5),
      Some("""WITH qv AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
             |z AS (
             |  SELECT e.vec_id, unnest(list_zip(e.embedding, qv.q_emb)) AS s
             |  FROM embeddings e, qv WHERE e.vec_id <> 0),
             |dsum AS (
             |  SELECT vec_id,
             |    sum(CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)) AS dot,
             |    sum(CAST(s[1] AS DOUBLE) * CAST(s[1] AS DOUBLE)) AS na2,
             |    sum(CAST(s[2] AS DOUBLE) * CAST(s[2] AS DOUBLE)) AS nq2
             |  FROM z GROUP BY vec_id)
             |SELECT vec_id, round(dot / (sqrt(na2) * sqrt(nq2)), 6) AS sim
             |FROM dsum ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin)),

    // Hard-negative mining for contrastive training: per probe, the 3
    // most-similar DIFFERENT-label vectors (near-miss negatives)
    Q("q_hard_negatives",
      // route PINNED exact: the oracle models the exact top-k, so this
      // query must never flip to the IVF route as the corpus grows
      (s, d) => Similarity.hardNegatives(embeddings(s, d), col("vec_id") < 10,
        exactPairBudget = Long.MaxValue),
      Some("""WITH p AS (
             |  SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
             |  FROM embeddings WHERE vec_id < 10),
             |c AS (SELECT vec_id AS c_id, label AS c_label, embedding AS c_emb
             |      FROM embeddings),
             |z AS (
             |  SELECT q_id, q_label, c_id, c_label,
             |    unnest(list_zip(c.c_emb, p.q_emb)) AS s
             |  FROM p JOIN c ON c_label <> q_label),
             |dsum AS (
             |  SELECT q_id, q_label, c_id, c_label,
             |    sum(CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)) AS dot,
             |    sum(CAST(s[1] AS DOUBLE) * CAST(s[1] AS DOUBLE)) AS na2,
             |    sum(CAST(s[2] AS DOUBLE) * CAST(s[2] AS DOUBLE)) AS nq2
             |  FROM z GROUP BY 1, 2, 3, 4),
             |r AS (
             |  SELECT q_id, q_label, c_id, c_label,
             |    round(dot / (sqrt(na2) * sqrt(nq2)), 6) AS sim,
             |    CAST(row_number() OVER (PARTITION BY q_id
             |      ORDER BY round(dot / (sqrt(na2) * sqrt(nq2)), 6) DESC, c_id)
             |      AS INT) AS rn
             |  FROM dsum)
             |SELECT q_id, q_label, c_id, c_label, sim, rn
             |FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin)),

    // IVF-style ANN: top-1 neighbor per probe within its coarse partition
    Q("q_ann_ivf",
      (s, d) => Similarity.ivfTop1(embeddings(s, d), col("vec_id") < 10),
      Some("""WITH p AS (
             |  SELECT vec_id AS q_id, label, embedding AS q_emb
             |  FROM embeddings WHERE vec_id < 10),
             |c AS (SELECT vec_id AS c_id, label, embedding AS c_emb FROM embeddings),
             |z AS (
             |  SELECT q_id, p.label, c_id, unnest(list_zip(c.c_emb, p.q_emb)) AS s
             |  FROM p JOIN c ON p.label = c.label AND q_id <> c_id),
             |dsum AS (
             |  SELECT q_id, label, c_id,
             |    sum(CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)) AS dot,
             |    sum(CAST(s[1] AS DOUBLE) * CAST(s[1] AS DOUBLE)) AS na2,
             |    sum(CAST(s[2] AS DOUBLE) * CAST(s[2] AS DOUBLE)) AS nq2
             |  FROM z GROUP BY 1, 2, 3),
             |r AS (
             |  SELECT q_id, label, c_id,
             |    round(dot / (sqrt(na2) * sqrt(nq2)), 6) AS sim,
             |    row_number() OVER (PARTITION BY q_id
             |      ORDER BY round(dot / (sqrt(na2) * sqrt(nq2)), 6) DESC, c_id) AS rn
             |  FROM dsum)
             |SELECT q_id, label, c_id, sim FROM r WHERE rn = 1 ORDER BY q_id""".stripMargin)),

    // Hard negatives ROUTED through the learned IVF index: forced
    // distributed route (exactPairBudget=0) — probes search only their 2
    // nearest clusters' inverted lists via the cluster equi-join
    Q("q_hard_neg_ivf",
      (s, d) => Similarity.hardNegatives(embeddings(s, d), col("vec_id") < 10,
        exactPairBudget = 0L),
      Some(hardNegIvfOracleSql)),

    // IVF ANN with the LEARNED kmeans coarse quantizer (top-1 neighbor
    // per probe within its trained cluster)
    Q("q_ann_kmeans",
      (s, d) => {
        val e = embeddings(s, d)
        Similarity.ivfSearch(e, Clustering.kmeans(e, 4, 2).centroids,
          col("vec_id") < 10)
      },
      Some(annKmeansOracleSql)),

    // Embedding-cosine near-duplicate pairs within coarse partitions
    Q("q_near_dup",
      (s, d) => Similarity.nearDupPairs(embeddings(s, d), 0.35),
      Some("""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
             |z AS (
             |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             |    unnest(list_zip(a.embedding, b.embedding)) AS s
             |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
             |d AS (
             |  SELECT a_id, b_id,
             |    sum(CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)) AS dot,
             |    sum(CAST(s[1] AS DOUBLE) * CAST(s[1] AS DOUBLE)) AS na2,
             |    sum(CAST(s[2] AS DOUBLE) * CAST(s[2] AS DOUBLE)) AS nb2
             |  FROM z GROUP BY 1, 2)
             |SELECT a_id, b_id, round(dot / (sqrt(na2) * sqrt(nb2)), 6) AS sim
             |FROM d WHERE round(dot / (sqrt(na2) * sqrt(nb2)), 6) >= 0.35
             |ORDER BY a_id, b_id""".stripMargin)),

    // SemDeDup (cluster-then-dedup): kmeans partitions the embedding
    // space, cosine near-dups searched in-cluster only, min-id survivor —
    // returns the dropped vectors
    Q("q_semdedup",
      (s, d) => Similarity.semDeDup(embeddings(s, d), k = 4, iters = 2, threshold = 0.35),
      Some(semDeDupOracleSql)),

    // Embedding-space decontamination: corpus vectors too close (cosine)
    // to any held-out probe vector, candidates via the portable LSH
    // bucket join — the semantic twin of q_decontam's n-gram containment
    // Probe split is modular so the probe set is non-empty at EVERY
    // scale factor (a fixed id threshold empties it at small sf and
    // silently turns the check vacuous)
    Q("q_semantic_decontam",
      (s, d) => Similarity.semanticDecontam(
        embeddings(s, d), col("vec_id") % 40 === 0, 0.35),
      Some {
        def seqDot(a: String, b: String): String =
          s"list_reduce(list_transform(range(1, len($a) + 1), i -> " +
            s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"
        val bucket = (0 until 6).map { p =>
          s"(CASE WHEN ${VecOps.duckDbPlaneDot("embedding", p)} > 0 THEN ${1 << p} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH e AS (
           |  SELECT vec_id, embedding, $bucket AS bucket,
           |    sqrt(${seqDot("embedding", "embedding")}) AS v_norm
           |  FROM embeddings),
           |p AS (SELECT vec_id AS q_id, bucket, embedding AS q_emb, v_norm AS q_norm
           |      FROM e WHERE vec_id % 40 = 0),
           |c AS (SELECT vec_id AS c_id, bucket, embedding AS c_emb, v_norm AS c_norm
           |      FROM e WHERE NOT (vec_id % 40 = 0)),
           |j AS (
           |  SELECT c_id, q_id,
           |    round(${seqDot("c_emb", "q_emb")} / (c_norm * q_norm), 6) AS sim
           |  FROM c JOIN p USING (bucket))
           |SELECT c_id, count(*) AS n_probe_hits, max(sim) AS top_sim,
           |  min(q_id) AS first_probe
           |FROM j WHERE sim >= 0.35 GROUP BY c_id ORDER BY c_id""".stripMargin
      }),

    // IVF-ROUTED decontamination — the from-scratch twin of the
    // persisted AnnIndex.decontam route: the quantizer trains on the
    // CORPUS (probes are external to an index), probes route to their 2
    // nearest lists, exact cosine over the cluster equi-join
    Q("q_semantic_decontam_ivf",
      (s, d) => Similarity.semanticDecontamIvf(
        embeddings(s, d), col("vec_id") % 40 === 0, 0.35),
      Some {
        def seqDot(a: String, b: String): String =
          s"list_reduce(list_transform(range(1, len($a) + 1), i -> " +
            s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"
        "WITH " + kmeansCtesOver("NOT (vec_id % 40 = 0)", 4) + ",\n" +
          s"""an AS (SELECT vec_id, embedding, cluster,
             |  sqrt(${seqDot("embedding", "embedding")}) AS v_norm FROM a2),
             |pe AS (SELECT vec_id, embedding,
             |    sqrt(${seqDot("embedding", "embedding")}) AS q_norm
             |  FROM embeddings WHERE vec_id % 40 = 0),
             |pscore AS (
             |  SELECT pe.vec_id, c1.c,
             |    -2.0 * list_reduce(list_transform(range(1, len(pe.embedding) + 1),
             |        i -> CAST(pe.embedding[i] AS DOUBLE) * cv[i]), (x, y) -> x + y)
             |      + list_reduce(list_transform(cv, x -> x * x), (x, y) -> x + y) AS score
             |  FROM pe, c1),
             |route AS (
             |  SELECT vec_id AS q_id, c AS cluster FROM
             |    (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score, c) AS cr
             |     FROM pscore)
             |  WHERE cr <= 2),
             |j AS (
             |  SELECT an.vec_id AS c_id, r.q_id,
             |    round(${seqDot("an.embedding", "pe.embedding")}
             |      / (an.v_norm * pe.q_norm), 6) AS sim
             |  FROM route r
             |  JOIN an ON an.cluster = r.cluster
             |  JOIN pe ON pe.vec_id = r.q_id)
             |SELECT c_id, count(*) AS n_probe_hits, max(sim) AS top_sim,
             |  min(q_id) AS first_probe
             |FROM j WHERE sim >= 0.35 GROUP BY c_id ORDER BY c_id""".stripMargin
      }),

    // Exact multi-percentile stats per group (linear interpolation — the
    // same definition as DuckDB's quantile_cont; median precedent is the
    // long-green q_file_stats)
    Q("q_percentiles",
      (s, d) => lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
             |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
             |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Batch sessionization: lag-gap flags + running sum assign session
    // numbers per user (30-minute gap); one keyed window shuffle
    Q("q_sessionize",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts_us")
        val e = events(s, d)
          .groupBy(col("user_id"), expr("ts div 1000").as("ts_us")).agg(count(lit(1)))
          .select("user_id", "ts_us") // dedup (user, ts) ties
        val gapUs = 1800L * 1000000L
        e.withColumn("brk",
            when(col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1L).otherwise(0L))
          .withColumn("session_no", sum(col("brk")).over(
            w.rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
          .groupBy("user_id", "session_no")
          .agg(count(lit(1)).as("n_events"),
            min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
          .orderBy("user_id", "session_no")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS ts_us FROM events GROUP BY 1, 2),
             |s AS (
             |  SELECT user_id, ts_us,
             |    CASE WHEN ts_us - lag(ts_us) OVER
             |        (PARTITION BY user_id ORDER BY ts_us) > 1800000000
             |      THEN 1 ELSE 0 END AS brk
             |  FROM e),
             |x AS (
             |  SELECT user_id, ts_us,
             |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
             |  FROM s)
             |SELECT user_id, session_no, count(*) AS n_events,
             |  min(ts_us) AS start_us, max(ts_us) AS end_us
             |FROM x GROUP BY 1, 2 ORDER BY user_id, session_no""".stripMargin)),

    // As-of join: attribute each purchase to the user's latest click
    // at-or-before it (clicks pre-deduped per (user, ts) so "the latest
    // click" is well-defined in both engines). DuckDB's native ASOF LEFT
    // JOIN is the oracle for our union+window formulation.
    Q("q_asof_attrib",
      (s, d) => {
        val ev = events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            expr("ts div 1000").as("ts_us"), col("value").as("purchase_value"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), expr("ts div 1000").as("ts_us"))
          .agg(max(col("value")).as("value"))
        AsOf.asofJoin(purchases, clicks, "user_id", "ts_us", rightPrefix = "click_")
          .orderBy("event_id")
      },
      Some("""WITH l AS (
             |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             |         value AS purchase_value
             |  FROM events WHERE event_type = 'purchase'),
             |r AS (
             |  SELECT user_id, epoch_us(ts) AS ts_us, max(value) AS value
             |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
             |SELECT l.event_id, l.user_id, l.ts_us, l.purchase_value,
             |       r.ts_us AS click_ts_us, r.value AS click_value
             |FROM l ASOF LEFT JOIN r
             |  ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
             |ORDER BY l.event_id""".stripMargin)),

    // As-of join with max-staleness tolerance (pandas merge_asof
    // tolerance=): attributions older than ~28h are discarded — left
    // rows keep nulls as if no prior click existed
    Q("q_asof_tolerance",
      (s, d) => {
        val ev = events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            expr("ts div 1000").as("ts_us"), col("value").as("purchase_value"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), expr("ts div 1000").as("ts_us"))
          .agg(max(col("value")).as("value"))
        AsOf.asofJoinTolerance(purchases, clicks, "user_id", "ts_us",
          tolerance = 100000000000L, rightPrefix = "click_")
          .orderBy("event_id")
      },
      Some("""WITH l AS (
             |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             |         value AS purchase_value
             |  FROM events WHERE event_type = 'purchase'),
             |r AS (
             |  SELECT user_id, epoch_us(ts) AS ts_us, max(value) AS value
             |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
             |j AS (
             |  SELECT l.event_id, l.user_id, l.ts_us, l.purchase_value,
             |         r.ts_us AS rts, r.value AS rv
             |  FROM l ASOF LEFT JOIN r
             |    ON l.user_id = r.user_id AND l.ts_us >= r.ts_us)
             |SELECT event_id, user_id, ts_us, purchase_value,
             |  CASE WHEN ts_us - rts <= 100000000000 THEN rts END AS click_ts_us,
             |  CASE WHEN ts_us - rts <= 100000000000 THEN rv END AS click_value
             |FROM j ORDER BY event_id""".stripMargin)),

    // Two-phase salted aggregation over a hot key (result must be
    // bit-identical to the plain GROUP BY the oracle runs: counts are
    // additive, money sums go through DECIMAL).
    Q("q_skew_salted",
      (s, d) => Skew.saltedStats(lineitem(s, d), Seq("l_returnflag"), "l_extendedprice")
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // MinHash + LSH candidate pairs (portable md5-fold hash: the oracle
    // recomputes the identical signatures and band buckets)
    Q("q_dedup_minhash",
      (s, d) => Dedup.minhashCandidates(s, documents(s, d)),
      Some(minhashOracleSql)),

    // Dedup groups: connected components over the minhash candidate
    // graph (label propagation to fixpoint; oracle = recursive CTE)
    Q("q_dedup_components",
      (s, d) => Dedup.connectedComponents(
        Dedup.minhashCandidates(s, documents(s, d), sorted = false))
        .groupBy("component")
        .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc"))
        .orderBy("component"),
      Some(componentsOracleSql)),

    // END-TO-END dedup keep-list: minhash candidates → connected
    // components → keep the min-id doc of every dup group, count
    // survivors per language (the full near-dedup pipeline composed —
    // what a corpus pass actually ships)
    Q("q_dedup_keep",
      (s, d) => {
        val docs = documents(s, d)
        val comp = Dedup.connectedComponents(
          Dedup.minhashCandidates(s, docs, sorted = false))
        val drop = comp.filter(col("doc_id") =!= col("component")).select("doc_id")
        docs.join(drop, Seq("doc_id"), "left_anti")
          .groupBy("lang").agg(count(lit(1)).as("n_kept"))
          .orderBy("lang")
      },
      Some("WITH RECURSIVE " + minhashPairCtes + ",\n" +
        """edges AS (
          |  SELECT a_id AS src, b_id AS dst FROM pairs
          |  UNION ALL SELECT b_id, a_id FROM pairs),
          |nodes AS (SELECT DISTINCT src AS id FROM edges),
          |reach(id, r) AS (
          |  SELECT id, id FROM nodes
          |  UNION
          |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
          |labels AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
          |dropped AS (SELECT doc_id FROM labels WHERE doc_id <> component)
          |SELECT lang, count(*) AS n_kept
          |FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
          |GROUP BY lang ORDER BY lang""".stripMargin),
      ),

    // INCREMENTAL dedup components: docs with doc_id % 7 == 0 arrive as
    // a LATER batch — the standing assignment is built from old-only
    // candidate edges, the batch's edges fold in through
    // Dedup.incrementalComponents (two broadcast-join passes over the
    // standing table, the contracted component graph is all that
    // re-clusters), and the merged view must be INDISTINGUISHABLE from
    // a from-scratch recompute: the oracle is the same recursive CTE
    // over ALL pairs as q_dedup_components. (LSH bucket membership is
    // per-doc, so old-corpus candidates == all-corpus candidates
    // filtered to old endpoints — one signature pass, split twice.)
    Q("q_components_incremental",
      (s, d) => {
        val pairs = Dedup.minhashCandidates(s, documents(s, d),
            sorted = false)
          .localCheckpoint()
        val isNew = (c: org.apache.spark.sql.Column) => c % 7 === 0
        val standing = Dedup.connectedComponents(
          pairs.filter(!isNew(col("a_id")) && !isNew(col("b_id"))))
        val delta = Dedup.incrementalComponents(standing,
          pairs.filter(isNew(col("a_id")) || isNew(col("b_id"))))
        standing
          .join(broadcast(delta.select("doc_id")), Seq("doc_id"), "left_anti")
          .unionByName(delta)
          .groupBy("component")
          .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc"))
          .orderBy("component")
      },
      Some(componentsOracleSql)),

    // CORPUS DELETION against the PERSISTED component ledger: bootstrap
    // the assignment table from all candidate pairs, retire a ~1% doc
    // slice through the corpus-scale JOIN path (inMaxIds = 0 — the
    // broadcast semi/anti-join form a compliance batch of millions
    // takes), and the post-surgery ledger must equal the from-scratch
    // closure over the SURVIVING pairs (splits included). Output
    // reconstructs implicit labels from the sparse store.
    Q("q_components_retire",
      (s, d) => {
        val pairs = Dedup.minhashCandidates(s, documents(s, d),
            sorted = false)
          .localCheckpoint()
        val wh = org.apache.spark.sql.GraftTempDir("q_comp_retire")
        val e = new graft.api.Engine(s, wh)
        val idx = new graft.ops.ComponentIndex(e, "q.retire_comps")
        idx.create(); idx.bootstrap(pairs)
        val gone = (c: org.apache.spark.sql.Column) => c % 101 === 0
        val retired = pairs.select(col("a_id").as("doc_id"))
          .union(pairs.select(col("b_id").as("doc_id")))
          .filter(gone(col("doc_id"))).distinct()
        idx.retire(retired, ids =>
          pairs
            .join(ids.select(col("doc_id").as("a_id")), Seq("a_id"), "left_semi")
            .join(ids.select(col("doc_id").as("b_id")), Seq("b_id"), "left_semi")
            .filter(!gone(col("a_id")) && !gone(col("b_id"))),
          inMaxIds = 0)
        val a = idx.assignments.localCheckpoint()
        a.unionByName(a.select(col("component").as("doc_id"),
            col("component")).distinct())
          .groupBy("component")
          .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc"))
          .orderBy("component")
      },
      Some(componentsRetireOracleSql)),

    // SEMANTIC dup-cluster ledger: bootstrap the persisted ANN index on
    // 80% of the embeddings, gate the other 20% through admitIfNovel
    // with the component ledger attached — the folded assignment
    // (batch-vs-index cosine collisions + intra-batch within-cluster
    // pairs) must equal the oracle's recursive-CTE closure over exactly
    // that edge set. Output reconstructs implicit labels from the
    // sparse store, like q_components_retire.
    Q("q_components_semantic",
      (s, d) => {
        val emb = embeddings(s, d)
        val isBatch = (c: org.apache.spark.sql.Column) => c % 5 === 0
        val wh = org.apache.spark.sql.GraftTempDir("q_comp_sem")
        val e = new graft.api.Engine(s, wh)
        val idx = new graft.ops.AnnIndex(e, "q.sem_idx",
          kClusters = 4, iters = 2)
        idx.create(); idx.bootstrap(emb.filter(!isBatch(col("vec_id"))))
        val comps = new graft.ops.ComponentIndex(e, "q.sem_comps")
        comps.create()
        idx.admitIfNovel(emb.filter(isBatch(col("vec_id"))), 0.35,
          components = Some(comps))
        val a = comps.assignments.localCheckpoint()
        a.unionByName(a.select(col("component").as("doc_id"),
            col("component")).distinct())
          .groupBy("component")
          .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc"))
          .orderBy("component")
      },
      Some(componentsSemanticOracleSql)),

    // Random-hyperplane LSH ANN (portable integer-mix plane weights)
    Q("q_ann_lsh",
      (s, d) => Similarity.lshAnn(embeddings(s, d), col("vec_id") < 10),
      Some(lshOracleSql)),

    // Product-quantization ANN: per-subspace Lloyd codebooks, one-pass
    // encode, ADC scoring via driver LUTs — integer-exact end to end
    Q("q_ann_pq",
      (s, d) => Similarity.pqSearch(embeddings(s, d), col("vec_id") < 10),
      Some(pqOracleSql)),

    // Full IVF-PQ serving shape (the persisted AnnIndex's PQ search,
    // from-scratch twin): coarse-routed ADC shortlist + exact rerank
    Q("q_ann_ivfpq",
      (s, d) => Similarity.ivfPqSearch(embeddings(s, d), col("vec_id") < 10),
      Some(ivfPqOracleSql)),

    // SimHash Hamming candidates via pigeonhole block buckets (no
    // all-pairs join, so no probe-set cap needed; portable 60-bit
    // md5-fold signature — exact-duplicate docs land at hamming 0)
    Q("q_dedup_simhash",
      (s, d) => Dedup.simhashCandidates(documents(s, d)),
      Some(simhashOracleSql)),

    // Multimodal decode stage with a REAL codec: executor-side PNG encode
    // (ImageIO.write of a deterministic (id,x,y)-pattern image) → decode
    // (ImageIO.read) → integer-exact shape + per-channel pixel sums. The
    // oracle rederives the sums arithmetically — matching proves actual
    // image bytes round-tripped through the codec on executors.
    Q("q_multimodal_decode",
      (s, d) => Multimodal.decodeImages(
          Multimodal.imagesFromIds(
            documents(s, d).filter(col("doc_id") < 100)
              .select(col("doc_id").as("media_id"))))
        .orderBy("media_id"),
      Some("""WITH d AS (SELECT doc_id, (doc_id % 13) + 4 AS w, (doc_id % 11) + 4 AS h
             |          FROM documents WHERE doc_id < 100)
             |SELECT doc_id AS media_id,
             |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
             |  CAST(list_sum(flatten(list_transform(range(0, h), y ->
             |    list_transform(range(0, w), x -> (doc_id + 2*x + 3*y) % 256)))) AS BIGINT) AS sum_r,
             |  CAST(list_sum(flatten(list_transform(range(0, h), y ->
             |    list_transform(range(0, w), x -> (3*doc_id + 5*x + 7*y) % 256)))) AS BIGINT) AS sum_g,
             |  CAST(list_sum(flatten(list_transform(range(0, h), y ->
             |    list_transform(range(0, w), x -> (7*doc_id + 11*x + 13*y) % 256)))) AS BIGINT) AS sum_b
             |FROM d ORDER BY media_id""".stripMargin)),

    // Multimodal image RESIZE: decode → integer-exact nearest-neighbor
    // resample to a fixed 8×6 grid (the model-input-normalization step)
    // → channel sums the oracle rederives by sampling the source pattern
    Q("q_multimodal_resize",
      (s, d) => Multimodal.resizeImages(
          Multimodal.imagesFromIds(
            documents(s, d).filter(col("doc_id") < 100)
              .select(col("doc_id").as("media_id"))), 8, 6)
        .orderBy("media_id"),
      Some("""WITH d AS (SELECT doc_id, (doc_id % 13) + 4 AS w, (doc_id % 11) + 4 AS h
             |          FROM documents WHERE doc_id < 100)
             |SELECT doc_id AS media_id,
             |  CAST(8 AS INTEGER) AS width, CAST(6 AS INTEGER) AS height,
             |  CAST(list_sum(flatten(list_transform(range(0, 6), y ->
             |    list_transform(range(0, 8), x ->
             |      (doc_id + 2*((x*w)//8) + 3*((y*h)//6)) % 256)))) AS BIGINT) AS sum_r,
             |  CAST(list_sum(flatten(list_transform(range(0, 6), y ->
             |    list_transform(range(0, 8), x ->
             |      (3*doc_id + 5*((x*w)//8) + 7*((y*h)//6)) % 256)))) AS BIGINT) AS sum_g,
             |  CAST(list_sum(flatten(list_transform(range(0, 6), y ->
             |    list_transform(range(0, 8), x ->
             |      (7*doc_id + 11*((x*w)//8) + 13*((y*h)//6)) % 256)))) AS BIGINT) AS sum_b
             |FROM d ORDER BY media_id""".stripMargin)),

    // Multimodal VIDEO decode + frame-sample with a REAL container:
    // executor-side multi-frame GIF encode (ImageIO sequence writer,
    // grayscale palette → lossless) → frame walk with stride-2 sampling
    // → integer-exact sampled-pixel sums the oracle rederives
    Q("q_multimodal_video",
      (s, d) => Multimodal.sampleFrames(
          Multimodal.videoFromIds(
            documents(s, d).filter(col("doc_id") < 50)
              .select(col("doc_id").as("media_id"))))
        .orderBy("media_id"),
      Some("""WITH d AS (SELECT doc_id, (doc_id % 13) + 4 AS w, (doc_id % 11) + 4 AS h,
             |                (doc_id % 5) + 2 AS n FROM documents WHERE doc_id < 50)
             |SELECT doc_id AS media_id,
             |  CAST(n AS INTEGER) AS n_frames,
             |  CAST((n + 1) // 2 AS INTEGER) AS n_sampled,
             |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
             |  CAST(list_sum(flatten(list_transform(range(0, n), f ->
             |    CASE WHEN f % 2 = 0 THEN
             |      flatten(list_transform(range(0, h), y ->
             |        list_transform(range(0, w), x -> (7*doc_id + 13*f + 3*x + 5*y) % 256)))
             |    ELSE [] END))) AS BIGINT) AS sum_sampled
             |FROM d ORDER BY media_id""".stripMargin)),

    // Multimodal AUDIO decode with a REAL codec: executor-side WAV encode
    // (AudioSystem.write of a deterministic 16-bit PCM pattern) → decode
    // (AudioSystem RIFF parse) → integer-exact sample stats the oracle
    // rederives arithmetically — proof the audio bytes round-tripped
    // through the codec on executors
    Q("q_multimodal_audio",
      (s, d) => Multimodal.decodeAudio(
          Multimodal.audioFromIds(
            documents(s, d).filter(col("doc_id") < 100)
              .select(col("doc_id").as("media_id"))))
        .orderBy("media_id"),
      Some("""WITH d AS (SELECT doc_id, (doc_id % 500) + 100 AS n
             |          FROM documents WHERE doc_id < 100),
             |s AS (SELECT doc_id, n,
             |  list_transform(range(0, n),
             |    i -> CAST((31 * doc_id + 7 * i) % 65536 - 32768 AS BIGINT)) AS pcm
             |  FROM d)
             |SELECT doc_id AS media_id,
             |  CAST(n AS BIGINT) AS n_samples,
             |  CAST(8000 AS INTEGER) AS sample_rate,
             |  CAST(list_sum(pcm) AS BIGINT) AS sum_pcm,
             |  CAST(list_min(pcm) AS INTEGER) AS min_pcm,
             |  CAST(list_max(pcm) AS INTEGER) AS max_pcm
             |FROM s ORDER BY media_id""".stripMargin)),

    // Multimodal plumbing: binary payload stats (bytes/frames/digest) over
    // the documents table packed as media rows
    Q("q_multimodal_stats",
      (s, d) => Multimodal.payloadStats(
          Multimodal.packText(documents(s, d).filter(col("doc_id") < 100)))
        .orderBy("media_id"),
      Some("""SELECT doc_id AS media_id, 'image' AS modality,
             |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
             |  CAST(floor(octet_length(encode(text)) / 256) AS BIGINT) AS n_frames,
             |  substr(md5(text), 1, 8) AS digest8
             |FROM documents WHERE doc_id < 100 ORDER BY media_id""".stripMargin)),

    // Exact-duplicate clusters by digest (md5-based — no SQL twin; DuckDB
    // has md5 but cluster membership is already covered by q_dedup_exact)
    Q("q_dedup_clusters",
      (s, d) => Dedup.exactClusters(documents(s, d)),
      Some("""WITH h AS (
             |  SELECT md5(lower(trim(text))) AS digest, doc_id FROM documents)
             |SELECT digest, count(*) AS n_dups, min(doc_id) AS keep_id
             |FROM h GROUP BY digest HAVING count(*) > 1 ORDER BY digest""".stripMargin)),

    // BM25 lexical retrieval top-10 (corpus curation / hard-negative
    // mining). The only float op is ln of exact integers (milli-quantized
    // round-half-up); tf saturation is pure BIGINT arithmetic with
    // integer division, so per-term scores are engine-exact integers
    // before the per-doc sum (see Retrieval.bm25's determinism contract).
    Q("q_bm25",
      (s, d) => graft.ops.Retrieval.bm25(documents(s, d),
        Seq("hash", "join", "spark"), 10),
      Some {
        val k1m = 1200; val bm = 750 // k1=1.2, b=0.75 at milli precision
        s"""WITH toks AS (
           |  SELECT doc_id, tok FROM (
           |    SELECT doc_id,
           |      unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS tok
           |    FROM documents)
           |  WHERE tok <> ''),
           |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
           |corpus AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
           |q AS (SELECT doc_id, tok FROM toks WHERE tok IN ('hash', 'join', 'spark')),
           |dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM q GROUP BY 1),
           |tf AS (SELECT doc_id, tok, count(*) AS tf FROM q GROUP BY 1, 2),
           |scored AS (
           |  SELECT tf.doc_id,
           |    CAST(floor((ln(CAST(n_docs AS DOUBLE) * 2.0 + 2.0)
           |                - ln(CAST(df AS DOUBLE) * 2.0 + 1.0)) * 1000.0 + 0.5) AS BIGINT)
           |    * ((tf * ($k1m + 1000) * 1000000) //
           |       (tf * 1000000 + $k1m * (1000 - $bm)
           |        + ($k1m * $bm * dl * 1000) // ((1000 * sum_dl) // n_docs)))
           |    AS term_micro
           |  FROM tf JOIN dfreq USING (tok) JOIN dl ON tf.doc_id = dl.doc_id, corpus),
           |agg AS (SELECT doc_id, CAST(sum(term_micro) AS BIGINT) AS score_micro FROM scored GROUP BY 1)
           |SELECT doc_id, score_micro,
           |  CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS INT) AS rank
           |FROM agg ORDER BY score_micro DESC, doc_id LIMIT 10""".stripMargin
      }),

    // Character-entropy quality signal: per-doc Shannon entropy over the
    // char distribution, terms micro-quantized before the sum
    Q("q_char_entropy",
      (s, d) => TextStats.charEntropy(documents(s, d).filter(col("doc_id") < 200)),
      Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
             |ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM d),
             |cnt AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
             |l AS (SELECT doc_id, CAST(length(text) AS DOUBLE) AS n FROM d
             |      WHERE length(text) > 0),
             |t AS (
             |  SELECT cnt.doc_id,
             |    CAST(floor(CAST(c AS DOUBLE) / n * ln(CAST(c AS DOUBLE) / n)
             |      * 1000000.0) AS BIGINT) AS tm
             |  FROM cnt JOIN l ON cnt.doc_id = l.doc_id)
             |SELECT doc_id, CAST(-sum(tm) AS BIGINT) AS entropy_micro
             |FROM t GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // Train/test decontamination: per test doc, fraction of its word
    // trigrams occurring anywhere in the train split (corpus-level n-gram
    // containment — the benchmark-leakage check). Split = the same
    // portable md5 bucketing as q_sample_split, 90/10.
    Q("q_decontam", {
      val weights = Seq("train" -> 0.9, "test" -> 0.1)
      (s, d) => graft.ops.Decontam.crossSplitContainment(
        Sampling.assignSplit(documents(s, d),
          col("doc_id").cast("string"), weights),
        col("split"), n = 3)
      },
      Some {
        val h = PortableHash.duckDbMd5Number("CAST(doc_id AS VARCHAR)", 8)
        s"""WITH d AS (
           |  SELECT doc_id,
           |    CASE WHEN $h % 10000 < 9000 THEN 'train' ELSE 'test' END AS split,
           |    regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
           |  FROM documents),
           |g AS (
           |  SELECT DISTINCT doc_id, split,
           |    array_to_string(toks[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS gram
           |  FROM (SELECT doc_id, split, toks, unnest(range(1, len(toks) - 1)) AS i
           |        FROM d WHERE len(toks) >= 3)),
           |tr AS (SELECT DISTINCT gram FROM g WHERE split = 'train'),
           |te AS (SELECT doc_id, gram FROM g WHERE split = 'test'),
           |tot AS (SELECT doc_id, count(*) AS n_grams FROM te GROUP BY 1),
           |hit AS (SELECT te.doc_id, count(*) AS n_hit FROM te JOIN tr USING (gram)
           |        GROUP BY 1)
           |SELECT doc_id, n_grams, COALESCE(n_hit, 0) AS n_hit,
           |  round(CAST(COALESCE(n_hit, 0) AS DOUBLE) / n_grams, 6) AS containment
           |FROM tot LEFT JOIN hit USING (doc_id)
           |ORDER BY doc_id""".stripMargin
      }),

    // Repetition quality signal: duplicated word-bigram fraction per doc
    // (the Gopher/C4 boilerplate filter). Counts are exact; the ratio is
    // a single rounded division, mirrored operation-for-operation.
    Q("q_repetition",
      (s, d) => TextStats.repetitionStats(documents(s, d)),
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id,
             |    array_to_string(toks[CAST(i AS INT):CAST(i + 1 AS INT)], ' ') AS gram
             |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
             |        FROM d WHERE len(toks) >= 2)),
             |a AS (SELECT doc_id, count(*) AS n_grams,
             |             count(DISTINCT gram) AS n_distinct
             |      FROM g GROUP BY 1)
             |SELECT doc_id, n_grams, n_distinct,
             |  n_grams - n_distinct AS n_dup,
             |  round(CAST(n_grams - n_distinct AS DOUBLE) / n_grams, 6) AS dup_ratio
             |FROM a ORDER BY doc_id""".stripMargin)),

    // Line-level boilerplate removal (C4/CCNet): sentences appearing in
    // >= 2 distinct docs are dropped, docs rebuilt byte-exactly
    Q("q_dedup_lines",
      (s, d) => Dedup.dedupLines(documents(s, d)),
      Some("""WITH l AS (
             |  SELECT doc_id, generate_subscripts(parts, 1) AS pos,
             |         unnest(parts) AS line
             |  FROM (SELECT doc_id, string_split(text, '. ') AS parts
             |        FROM documents)),
             |n AS (SELECT doc_id, pos, line, trim(line) AS norm FROM l),
             |b AS (SELECT norm FROM n WHERE norm <> ''
             |      GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
             |f AS (SELECT n.*, (norm IN (SELECT norm FROM b)) AS is_b FROM n),
             |a AS (SELECT doc_id, count(*) AS n_lines,
             |        CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT)
             |          AS n_removed,
             |        COALESCE(string_agg(CASE WHEN NOT is_b THEN line END,
             |          '. ' ORDER BY pos), '') AS new_text
             |      FROM f GROUP BY 1)
             |SELECT doc_id, n_lines, n_removed, new_text,
             |  CAST(length(new_text) AS INT) AS new_n_chars
             |FROM a WHERE n_removed > 0 ORDER BY doc_id""".stripMargin)),

    // Winnowing (MOSS) fingerprints + duplicated-span census: per doc,
    // how many selected fingerprints are shared with other docs — the
    // span-granular copied-fraction estimate. The pack/min/unpack
    // arithmetic is pure BIGINT, so the oracle reproduces it exactly.
    Q("q_winnow_spans",
      (s, d) => Dedup.winnowedDupSpans(documents(s, d)),
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |    array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 5 AS INT)], ' ') AS gram
             |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 4)) AS i
             |        FROM d WHERE len(toks) >= 8)),
             |v AS (
             |  SELECT doc_id, pos,
             |    GRAMHASH * 1073741824 + (1073741823 - pos) AS v
             |  FROM g),
             |w AS (
             |  SELECT doc_id, pos, min(v) OVER (PARTITION BY doc_id ORDER BY pos
             |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS minv
             |  FROM v),
             |sel AS (SELECT DISTINCT doc_id, minv // 1073741824 AS fp
             |        FROM w WHERE pos >= 3),
             |c AS (SELECT fp, count(*) AS n_docs FROM sel GROUP BY fp)
             |SELECT s.doc_id, count(*) AS n_fps,
             |  CAST(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_fps
             |FROM sel s JOIN c USING (fp)
             |GROUP BY s.doc_id
             |HAVING sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) > 0
             |ORDER BY doc_id""".stripMargin
        .replace("GRAMHASH", PortableHash.duckDbMd5Number("gram", 8)))),

    // Span-level duplicate REMOVAL: every winnowed fingerprint shared by
    // ≥2 docs marks its 5-token gram span; affected docs are rebuilt from
    // the unmarked tokens, byte-exact over the normalized token stream —
    // the excision step the winnowing census feeds (Lee et al. 2021 shape)
    Q("q_winnow_removal",
      (s, d) => Dedup.winnowRemoval(documents(s, d)),
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |    array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 5 AS INT)], ' ') AS gram
             |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 4)) AS i
             |        FROM d WHERE len(toks) >= 8)),
             |v AS (SELECT doc_id, pos,
             |  GRAMHASH * 1073741824 + (1073741823 - pos) AS v FROM g),
             |w AS (SELECT doc_id, pos, min(v) OVER (PARTITION BY doc_id ORDER BY pos
             |        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS minv FROM v),
             |occ AS (SELECT DISTINCT doc_id, minv // 1073741824 AS fp,
             |          1073741823 - (minv % 1073741824) AS gpos
             |        FROM w WHERE pos >= 3),
             |dup AS (SELECT fp FROM (SELECT DISTINCT doc_id, fp FROM occ)
             |        GROUP BY fp HAVING count(*) >= 2),
             |marked AS (SELECT DISTINCT o.doc_id, o.gpos + s.x AS tpos
             |           FROM occ o JOIN dup USING (fp), unnest(range(0, 5)) AS s(x)),
             |toks AS (SELECT doc_id, CAST(i AS BIGINT) AS tpos, toks[CAST(i + 1 AS INT)] AS tok
             |         FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM d)),
             |flags AS (SELECT t.doc_id, t.tpos, t.tok, (m.tpos IS NOT NULL) AS cut
             |          FROM toks t LEFT JOIN marked m ON t.doc_id = m.doc_id AND t.tpos = m.tpos),
             |agg AS (
             |  SELECT doc_id, count(*) AS n_tokens,
             |    CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             |    coalesce(array_to_string(list(tok ORDER BY tpos) FILTER (WHERE NOT cut), ' '), '') AS new_text
             |  FROM flags GROUP BY doc_id
             |  HAVING sum(CASE WHEN cut THEN 1 ELSE 0 END) > 0)
             |SELECT doc_id, n_tokens, n_removed, new_text,
             |  CAST(length(new_text) AS INTEGER) AS new_n_chars
             |FROM agg ORDER BY doc_id""".stripMargin
        .replace("GRAMHASH", PortableHash.duckDbMd5Number("gram", 8)))),

    // EXACT-substring duplicate spans (Lee et al. ExactSubstr): maximal
    // doc regions whose every 6-token gram occurs ≥2× corpus-wide
    // (within-doc repeats included). Distributed as a gram-hash census —
    // the suffix array's Spark-native twin; the winnowing kernel with
    // window=1 supplies ALL gram hashes.
    Q("q_exact_substr",
      (s, d) => Dedup.exactDupSpans(documents(s, d)),
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |    array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 6 AS INT)], ' ') AS gram
             |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 5)) AS i
             |        FROM d WHERE len(toks) >= 6)),
             |h AS (SELECT doc_id, pos, GRAMHASH AS fp FROM g),
             |dup AS (SELECT fp FROM h GROUP BY fp HAVING count(*) >= 2),
             |m AS (SELECT doc_id, pos FROM h JOIN dup USING (fp)),
             |f AS (SELECT doc_id, pos,
             |        CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 6
             |             THEN 1 ELSE 0 END AS brk
             |      FROM m),
             |sp AS (SELECT doc_id, pos,
             |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
             |       FROM f),
             |spans AS (SELECT doc_id, span_id, min(pos) AS s, max(pos) + 5 AS e
             |          FROM sp GROUP BY 1, 2)
             |SELECT doc_id, count(*) AS n_spans,
             |  CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
             |  CAST(max(e - s + 1) AS BIGINT) AS max_span
             |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin
        .replace("GRAMHASH", PortableHash.duckDbMd5Number("gram", 8)))),

    // The ACTION half of ExactSubstr: every token covered by a ≥2×
    // 6-gram is excised; affected docs rebuild byte-exact (shares the
    // semi-join-gated rebuild with winnowRemoval)
    Q("q_exact_removal",
      (s, d) => Dedup.exactSubstrRemoval(documents(s, d)),
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |    array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 6 AS INT)], ' ') AS gram
             |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 5)) AS i
             |        FROM d WHERE len(toks) >= 6)),
             |h AS (SELECT doc_id, pos, GRAMHASH AS fp FROM g),
             |dup AS (SELECT fp FROM h GROUP BY fp HAVING count(*) >= 2),
             |marked AS (SELECT DISTINCT o.doc_id, o.pos + s.x AS tpos
             |           FROM h o JOIN dup USING (fp), unnest(range(0, 6)) AS s(x)),
             |toks AS (SELECT doc_id, CAST(i AS BIGINT) AS tpos, toks[CAST(i + 1 AS INT)] AS tok
             |         FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM d)),
             |flags AS (SELECT t.doc_id, t.tpos, t.tok, (m.tpos IS NOT NULL) AS cut
             |          FROM toks t LEFT JOIN marked m ON t.doc_id = m.doc_id AND t.tpos = m.tpos),
             |agg AS (
             |  SELECT doc_id, count(*) AS n_tokens,
             |    CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             |    coalesce(array_to_string(list(tok ORDER BY tpos) FILTER (WHERE NOT cut), ' '), '') AS new_text
             |  FROM flags GROUP BY doc_id
             |  HAVING sum(CASE WHEN cut THEN 1 ELSE 0 END) > 0)
             |SELECT doc_id, n_tokens, n_removed, new_text,
             |  CAST(length(new_text) AS INTEGER) AS new_n_chars
             |FROM agg ORDER BY doc_id""".stripMargin
        .replace("GRAMHASH", PortableHash.duckDbMd5Number("gram", 8)))),

    // Deterministic BPE-merge training: 64 rounds of top-(count, pair)
    // merges — corpus shuffles once into the word census; rounds patch
    // the INCREMENTAL pair census (only words containing the merged pair
    // re-explode), one argmax job per round. DuckDB replays the rounds
    // as unrolled materialized-CTE groups.
    Q("q_bpe_merges",
      (s, d) => Bpe.trainMerges(documents(s, d), nMerges = 64),
      Some(bpeOracleSql(64))),

    // The TRACKED-census tier (vocab threshold 0 forces it: distributed
    // vocab, driver-side exact census, zero-job argmax, batched rounds)
    // replays the same serial loop byte-for-byte — so it answers to the
    // SAME unrolled-CTE DuckDB replay, putting the realistic-merge-count
    // tier under the oracle gate, not just under specs
    Q("q_bpe_merges_tracked",
      (s, d) => Bpe.trainMerges(documents(s, d), nMerges = 16,
        driverVocabThreshold = 0L, batchK = 8),
      Some(bpeOracleSql(16))),

    // BPE ENCODE: per-doc token counts under the merges just learned —
    // the tokenizer applied at corpus scale as a pure projection (the
    // k-bounded merge list rides a single native kernel call; no
    // joins, no shuffle beyond the per-doc aggregate)
    Q("q_bpe_encode",
      (s, d) => {
        val merges = Bpe.trainMerges(documents(s, d), nMerges = 6).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        Bpe.encodeStats(documents(s, d), merges)
      },
      Some(bpeEncodeOracleSql(6))),

    // Tokenizer FERTILITY by language under the learned segmentation:
    // tokens-per-word permille — the tokenizer-equity metric mixes and
    // budgets must correct for
    Q("q_bpe_fertility",
      (s, d) => {
        val merges = Bpe.trainMerges(documents(s, d), nMerges = 6).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        Bpe.fertilityByLang(documents(s, d), merges)
      },
      Some(bpeCtes(6) + s""",
         |toks AS (
         |  SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
         |    FROM documents)
         |  WHERE w <> ''),
         |j AS (
         |  SELECT d.lang,
         |    CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(len(v.syms)) AS BIGINT) AS n_tokens
         |  FROM toks JOIN vocab6 v ON toks.w = v.w
         |  JOIN documents d USING (doc_id)
         |  GROUP BY 1)
         |SELECT lang, n_words, n_tokens,
         |  CAST(CAST(n_tokens AS HUGEINT) * 1000 // n_words AS BIGINT)
         |    AS fertility_milli
         |FROM j WHERE n_words > 0 ORDER BY lang""".stripMargin)),

    // Duplicate 3-gram CHARACTER fraction (the Gopher repetition
    // filter, char-weighted complement of q_repetition): share of gram
    // chars covered by n-grams occurring more than once in the doc.
    // Exact integer counting; the ratio is integral permille.
    Q("q_dup_ngrams",
      (s, d) => TextStats.dupNgramChars(documents(s, d)),
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id,
             |    array_to_string(toks[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS gram
             |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
             |        FROM d WHERE len(toks) >= 3)),
             |c AS (SELECT doc_id, gram, count(*) AS cnt, length(gram) AS gc
             |      FROM g GROUP BY 1, 2),
             |a AS (SELECT doc_id,
             |        CAST(sum(cnt) AS BIGINT) AS n_grams,
             |        CAST(sum(cnt * gc) AS BIGINT) AS gram_chars,
             |        CAST(sum(CASE WHEN cnt > 1 THEN cnt * gc ELSE 0 END)
             |          AS BIGINT) AS dup_chars
             |      FROM c GROUP BY 1)
             |SELECT doc_id, n_grams, gram_chars, dup_chars,
             |  (dup_chars * 1000) // gram_chars AS dup_permille
             |FROM a WHERE dup_chars > 0
             |ORDER BY dup_permille DESC, doc_id""".stripMargin)),

    // PII-style pattern masking: digit runs >= 3 replaced; per-doc
    // redaction counts. The digit-run regex behaves identically under
    // Java regex (Spark) and RE2 (DuckDB), so output text is byte-equal.
    Q("q_redact",
      (s, d) => TextStats.maskPattern(documents(s, d), "[0-9]{3,}", "<NUM>"),
      Some("""SELECT doc_id,
             |  regexp_replace(text, '[0-9]{3,}', '<NUM>', 'g') AS masked_text,
             |  CAST(len(regexp_split_to_array(text, '[0-9]{3,}')) - 1 AS INT)
             |    AS n_masked
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Z-order (Morton) clustering value: the layout key behind
    // Compact.rewriteClustered. Pure BIGINT binning + bit interleave
    // (see ops.ZOrder's determinism contract), so the per-region rollup
    // is value-exact cross-engine.
    Q("q_zorder",
      (s, d) => {
        val li = lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
        graft.ops.ZOrder.withZValue(li, Seq("l_partkey", "l_suppkey"), 8, "zval")
          .groupBy(shiftright(col("zval"), 8).as("zregion"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("zval")).as("z_lo"), max(col("zval")).as("z_hi"))
          .orderBy("zregion")
      },
      Some {
        val zTerms = (0 until 8).flatMap(j => Seq(
          s"(((bx >> $j) & 1) << ${2 * j})",
          s"(((by >> $j) & 1) << ${2 * j + 1})")).mkString(" | ")
        s"""WITH corpus AS (
           |  SELECT CAST(min(l_partkey) AS BIGINT) AS lox,
           |         CAST(max(l_partkey) AS BIGINT) AS hix,
           |         CAST(min(l_suppkey) AS BIGINT) AS loy,
           |         CAST(max(l_suppkey) AS BIGINT) AS hiy
           |  FROM lineitem),
           |binned AS (
           |  SELECT
           |    least(greatest(((CAST(l_partkey AS BIGINT) - lox) * 256)
           |      // (hix - lox + 1), 0), 255) AS bx,
           |    least(greatest(((CAST(l_suppkey AS BIGINT) - loy) * 256)
           |      // (hiy - loy + 1), 0), 255) AS by
           |  FROM lineitem, corpus),
           |z AS (SELECT $zTerms AS zval FROM binned)
           |SELECT zval >> 8 AS zregion, count(*) AS n_rows,
           |       min(zval) AS z_lo, max(zval) AS z_hi
           |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // ---- ANALYZE-style NDV estimation: KMV (bottom-k) distinct sketch
    // with the portable md5 hash, so the ESTIMATE ITSELF is
    // bit-reproducible in DuckDB — including the (k-1)*M/h_k division,
    // which both engines run in IEEE double with identical inputs.
    // 100 TB shape: the shuffle carries at most k 8-byte hashes per
    // partition per column, never the values (graft.ops.Stats).
    Q("q_ndv_sketch",
      (s, dir) => {
        val docs = documents(s, dir)
        graft.ops.Stats.kmvSketch(docs, Seq("doc_id", "lang", "source"), k = 256)
      },
      Some(Seq("doc_id", "lang", "source")
        .map(c => "(" + graft.ops.Stats.kmvOracleSql("documents", c, 256) + ")")
        .mkString("", " UNION ALL ", " ORDER BY column_name"))),

    // ---- training-sequence packing: documents concatenated into
    // fixed-budget sequences per source (bin = cumulative-prefix / budget
    // — one window shuffle per source at any scale). Integer-only.
    Q("q_seq_pack",
      (s, dir) => {
        val docs = documents(s, dir)
        graft.ops.Packing.packSequences(docs, "source", "doc_id", "n_chars", 4096L)
          .groupBy(col("source"), col("seq_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("seq_chars"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy("source", "seq_id")
      },
      Some("""WITH packed AS (
             |  SELECT source, doc_id, n_chars,
             |    CAST(coalesce(sum(n_chars) OVER (PARTITION BY source
             |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND 1 PRECEDING), 0) // 4096 AS BIGINT) AS seq_id
             |  FROM documents)
             |SELECT source, seq_id, count(*) AS n_docs,
             |       CAST(sum(n_chars) AS BIGINT) AS seq_chars,
             |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM packed GROUP BY source, seq_id
             |ORDER BY source, seq_id""".stripMargin)),

    // ---- sliding-window chunking (RAG/embedding prep): 512-char spans
    // every 480 chars via sequence+explode (codegen, no UDF); integral
    // arithmetic keeps it engine-exact.
    Q("q_chunk",
      (s, dir) => {
        val docs = documents(s, dir)
        graft.ops.Packing.chunkSpans(docs, "n_chars", window = 512, stride = 480)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_spans"), sum(col("span_len")).as("span_chars"),
            max(col("span_len")).as("max_span"), min(col("span_len")).as("min_span"))
          .orderBy("source")
      },
      Some("""WITH spans AS (
             |  SELECT source,
             |    least(512, n_chars - start) AS span_len
             |  FROM (SELECT source, n_chars,
             |          unnest(generate_series(0, n_chars - 1, 480)) AS start
             |        FROM documents WHERE n_chars > 0))
             |SELECT source, count(*) AS n_spans, CAST(sum(span_len) AS BIGINT) AS span_chars,
             |       max(span_len) AS max_span, min(span_len) AS min_span
             |FROM spans GROUP BY source ORDER BY source""".stripMargin)),

    // Sequence-length bucketing (padding-efficient batch assembly):
    // equal-frequency buckets split at exact quartiles of n_chars —
    // one distributed percentile agg broadcast back, never a global sort
    Q("q_len_buckets",
      (s, d) => graft.ops.Packing.lengthBuckets(documents(s, d), "n_chars", 4)
        .groupBy("len_bucket")
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
        .orderBy("len_bucket"),
      Some("""WITH b AS (SELECT quantile_cont(n_chars, 0.25) AS q0,
             |  quantile_cont(n_chars, 0.50) AS q1,
             |  quantile_cont(n_chars, 0.75) AS q2 FROM documents)
             |SELECT ((n_chars > q0)::INT + (n_chars > q1)::INT
             |        + (n_chars > q2)::INT) + 1 AS len_bucket,
             |  count(*) AS n_docs,
             |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
             |FROM documents, b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // INT8 absmax quantization stats per embedding (export / ANN-index
    // prep): engine-exact via fixed fold order + floor(x+0.5) rounding
    Q("q_vec_quant",
      (s, d) => graft.ops.Similarity.quantizeStats(
        embeddings(s, d).filter(col("vec_id") < 500)),
      Some("""WITH s AS (
             |  SELECT vec_id, embedding,
             |    list_aggregate(list_transform(embedding,
             |      x -> abs(CAST(x AS DOUBLE))), 'max') AS scale
             |  FROM embeddings WHERE vec_id < 500),
             |q AS (
             |  SELECT vec_id, scale,
             |    list_transform(embedding, x -> CAST(
             |      CASE WHEN scale = 0.0 THEN 0.0
             |           ELSE floor(CAST(x AS DOUBLE) / scale * 127.0 + 0.5)
             |      END AS BIGINT)) AS qv
             |  FROM s)
             |SELECT vec_id,
             |  CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
             |  list_aggregate(qv, 'min') AS q_min,
             |  list_aggregate(qv, 'max') AS q_max,
             |  CAST(floor(scale * 1000000.0 + 0.5) AS BIGINT) AS scale_micro
             |FROM q ORDER BY vec_id""".stripMargin)),

    // Ordered event funnel (view → click → purchase): users completing
    // each step prefix in order, first-touch semantics — the per-step
    // cascade joins all key on user_id, one partitioning reused
    Q("q_funnel",
      (s, d) => graft.ops.Funnel.funnel(events(s, d),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase")),
      Some("""WITH s0 AS (
             |  SELECT user_id, min(epoch_ns(ts)) AS t FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |s1 AS (
             |  SELECT e.user_id, min(epoch_ns(e.ts)) AS t
             |  FROM events e JOIN s0 USING (user_id)
             |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) >= s0.t
             |  GROUP BY 1),
             |s2 AS (
             |  SELECT e.user_id, min(epoch_ns(e.ts)) AS t
             |  FROM events e JOIN s1 USING (user_id)
             |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= s1.t
             |  GROUP BY 1)
             |SELECT CAST(0 AS INT) AS step_no, 'view' AS step,
             |       count(*) AS n_users FROM s0
             |UNION ALL SELECT 1, 'click', count(*) FROM s1
             |UNION ALL SELECT 2, 'purchase', count(*) FROM s2
             |ORDER BY step_no""".stripMargin)),

    // Weekly cohort retention triangle: cohort = first active epoch-week
    // per user; integer week arithmetic on the nanosecond surface
    Q("q_retention",
      (s, d) => graft.ops.Funnel.weeklyRetention(events(s, d), "user_id", "ts"),
      Some("""WITH e AS (
             |  SELECT user_id, (epoch_ns(ts) // 1000) // 604800000000 AS week
             |  FROM events GROUP BY 1, 2),
             |f AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1)
             |SELECT cohort_week, week - cohort_week AS week_offset,
             |       count(*) AS n_users
             |FROM e JOIN f USING (user_id)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Deterministic per-stratum reservoir: 5 docs per language by md5
    // priority — reproducible across engines/partitionings
    Q("q_sample_reservoir",
      (s, d) => Sampling.prioritySample(documents(s, d),
          col("lang"), col("doc_id").cast("string"), 5)
        .select("lang", "sample_rank", "doc_id")
        .orderBy("lang", "sample_rank"),
      Some {
        val h = PortableHash.duckDbMd5Number("CAST(doc_id AS VARCHAR)", 15)
        s"""WITH p AS (SELECT lang, doc_id, $h AS pr FROM documents),
           |r AS (
           |  SELECT lang, doc_id,
           |    CAST(row_number() OVER (PARTITION BY lang
           |      ORDER BY pr, CAST(doc_id AS VARCHAR)) AS INT) AS sample_rank
           |  FROM p)
           |SELECT lang, sample_rank, doc_id FROM r WHERE sample_rank <= 5
           |ORDER BY lang, sample_rank""".stripMargin
      }),

    // TF-IDF keyword extraction: top-3 characteristic terms per doc,
    // idf milli-quantized over the full corpus (same determinism
    // contract as q_bm25)
    Q("q_tfidf",
      (s, d) => graft.ops.Retrieval.tfidfTopK(documents(s, d), col("doc_id") < 50, 3),
      Some("""WITH toks AS (
             |  SELECT doc_id, tok FROM (
             |    SELECT doc_id,
             |      unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS tok
             |    FROM documents)
             |  WHERE tok <> ''),
             |corpus AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
             |dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
             |       WHERE doc_id < 50 GROUP BY 1, 2),
             |sc AS (
             |  SELECT tf.doc_id, tf.tok,
             |    tf * CAST(floor((ln(CAST(n_docs AS DOUBLE) + 1.0)
             |      - ln(CAST(df AS DOUBLE) + 1.0)) * 1000.0 + 0.5) AS BIGINT)
             |    AS score_milli
             |  FROM tf JOIN dfreq USING (tok), corpus),
             |r AS (
             |  SELECT doc_id, tok, score_milli,
             |    CAST(row_number() OVER (PARTITION BY doc_id
             |      ORDER BY score_milli DESC, tok) AS INT) AS rn
             |  FROM sc)
             |SELECT doc_id, rn, tok, score_milli FROM r WHERE rn <= 3
             |ORDER BY doc_id, rn""".stripMargin)),

    // Distributed quality-classifier TRAINING (the fastText-style filter
    // of CCNet/LLaMA pipelines) as an integer-exact batch perceptron:
    // 3 rounds over hashed-bigram features, weights ride each round as a
    // literal map, updates collect ≤256 longs. The oracle replays the
    // rounds as unrolled CTEs; the confusion census is bit-identical.
    Q("q_quality_train",
      (s, d) => Selection.trainQualityPerceptron(
        documents(s, d), col("lang") === "en"),
      Some(perceptronCtes +
        """SELECT CAST(y AS BIGINT) AS label,
           |  CAST(CASE WHEN margin > 0 THEN 1 ELSE -1 END AS BIGINT) AS predicted,
           |  count(*) AS n_docs
           |FROM mf GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // The APPLY half: per-doc margin + predicted label under the SAME
    // trained weights — what the pipeline gates on
    Q("q_quality_scores",
      (s, d) => Selection.scoreQuality(documents(s, d), col("lang") === "en"),
      Some(perceptronCtes +
        """SELECT doc_id, CAST(margin AS BIGINT) AS margin,
           |  CAST(CASE WHEN margin > 0 THEN 1 ELSE -1 END AS BIGINT) AS predicted
           |FROM mf ORDER BY doc_id""".stripMargin)),
    // Provenance attribution of the near-dup graph: candidate pairs per
    // canonical (source, source) — which feeds copy which
    Q("q_dup_sources",
      (s, d) => Dedup.dupSourcePairs(
        Dedup.minhashCandidates(s, documents(s, d), sorted = false),
        documents(s, d)),
      Some("WITH " + minhashPairCtes + ",\n" +
        """m AS (
          |  SELECT least(da.source, db.source) AS source_a,
          |         greatest(da.source, db.source) AS source_b
          |  FROM pairs p
          |  JOIN documents da ON da.doc_id = p.a_id
          |  JOIN documents db ON db.doc_id = p.b_id)
          |SELECT source_a, source_b, count(*) AS n_pairs
          |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Degree distribution of the minhash candidate graph — the pre-dedup
    // corpus diagnostic (heavy tail = template spam / cluster blowup)
    Q("q_graph_degree",
      (s, d) => Dedup.degreeHistogram(
        Dedup.minhashCandidates(s, documents(s, d), sorted = false)),
      Some("WITH " + minhashPairCtes + ",\n" +
        """nodes AS (
          |  SELECT a_id AS doc_id FROM pairs
          |  UNION ALL SELECT b_id FROM pairs),
          |deg AS (SELECT doc_id, count(*) AS degree FROM nodes GROUP BY 1)
          |SELECT degree, count(*) AS n_docs FROM deg
          |GROUP BY 1 ORDER BY degree""".stripMargin)),

    // Bigram familiarity (CCNet-style perplexity proxy, float-free):
    // average corpus occurrence count of each doc's char bigrams
    Q("q_familiarity",
      (s, d) => TextStats.bigramFamiliarity(documents(s, d), col("doc_id") < 200),
      Some("""WITH d AS (
             |  SELECT doc_id, lower(text) AS t FROM documents
             |  WHERE length(text) >= 2),
             |b AS (
             |  SELECT doc_id, substr(t, CAST(i AS INT), 2) AS bg
             |  FROM (SELECT doc_id, t, unnest(range(1, length(t))) AS i FROM d)),
             |c AS (SELECT bg, count(*) AS cnt FROM b GROUP BY 1),
             |sel AS (SELECT doc_id, bg FROM b WHERE doc_id < 200)
             |SELECT sel.doc_id, count(*) AS n_bigrams,
             |  CAST((CAST(sum(cnt) AS BIGINT) * 1000) // count(*) AS BIGINT)
             |    AS familiarity_milli
             |FROM sel JOIN c USING (bg)
             |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // Corpus DRIFT monitor: per-bucket cross-multiplied proportion gap
    // between two corpus slices over hashed-bigram buckets (micro units
    // of absolute probability difference) — the ingestion canary for a
    // source changing character. Integer-exact (DECIMAL/HUGEINT).
    Q("q_corpus_drift",
      (s, d) => TextStats.corpusDrift(documents(s, d), col("doc_id") % 2 === 0),
      Some {
        val h = PortableHash.duckDbMd5Number("bg", 8)
        s"""WITH d AS (
           |  SELECT doc_id, (doc_id % 2 = 0) AS is_a,
           |    regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
           |  FROM documents),
           |f AS (
           |  SELECT is_a, $h % 256 AS b
           |  FROM (
           |    SELECT doc_id, is_a,
           |      array_to_string(toks[CAST(i AS INT):CAST(i + 1 AS INT)], ' ') AS bg
           |    FROM (SELECT doc_id, is_a, toks, unnest(range(1, len(toks))) AS i
           |          FROM d WHERE len(toks) >= 2))),
           |t AS (SELECT b,
           |        CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           |        CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
           |      FROM f GROUP BY 1),
           |tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS tot_a,
           |               CAST(sum(n_b) AS BIGINT) AS tot_b FROM t),
           |sc AS (SELECT b, n_a, n_b,
           |        CAST(abs(CAST(n_a AS HUGEINT) * tot_b - CAST(n_b AS HUGEINT) * tot_a)
           |          * 1000000 // (CAST(tot_a AS HUGEINT) * tot_b) AS BIGINT)
           |          AS drift_micro
           |       FROM t, tot),
           |r AS (SELECT b, n_a, n_b, drift_micro,
           |        CAST(row_number() OVER (ORDER BY drift_micro DESC, b) AS INT) AS rn
           |      FROM sc)
           |SELECT b, n_a, n_b, drift_micro, rn FROM r WHERE rn <= 20
           |ORDER BY rn""".stripMargin
      }),

    // DSIR-style data selection: per-doc target-vs-raw likelihood ratio
    // over a hashed-bigram bag (target = lang 'en'). Pure integer
    // arithmetic end to end: DECIMAL(38,0) on the Spark side is the
    // exact twin of DuckDB's HUGEINT, so affinity_milli is bit-equal.
    Q("q_dsir_affinity",
      (s, d) => Selection.targetAffinity(documents(s, d), col("lang") === "en"),
      Some {
        val h = PortableHash.duckDbMd5Number("bg", 8)
        s"""WITH d AS (
           |  SELECT doc_id, (lang = 'en') AS is_t,
           |    regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
           |  FROM documents),
           |f AS (
           |  SELECT doc_id, is_t, $h % 4096 AS b
           |  FROM (
           |    SELECT doc_id, is_t,
           |      array_to_string(toks[CAST(i AS INT):CAST(i + 1 AS INT)], ' ')
           |        AS bg
           |    FROM (SELECT doc_id, is_t, toks,
           |            unnest(range(1, len(toks))) AS i
           |          FROM d WHERE len(toks) >= 2))),
           |t AS (SELECT b, count(*) AS n_r,
           |        CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT)
           |          AS n_t
           |      FROM f GROUP BY 1),
           |tot AS (SELECT CAST(sum(n_r) AS BIGINT) AS tot_r,
           |               CAST(sum(n_t) AS BIGINT) AS tot_t FROM t),
           |a AS (SELECT doc_id, count(*) AS n_feats,
           |        CAST(sum(n_t) AS BIGINT) AS s_t,
           |        CAST(sum(n_r) AS BIGINT) AS s_r
           |      FROM f JOIN t USING (b) GROUP BY 1)
           |SELECT doc_id, n_feats,
           |  CAST(CAST(s_t AS HUGEINT) * tot_r * 1000
           |    // (CAST(s_r AS HUGEINT) * tot_t) AS BIGINT) AS affinity_milli
           |FROM a, tot ORDER BY doc_id""".stripMargin
      }),
  )

  /** Shared oracle CTE chain replaying 3 batch-perceptron rounds over
    * hashed-bigram features (256 buckets, target lang='en'), ending in
    * `mf(doc_id, y, margin)` — consumed by both the confusion census
    * (q_quality_train) and the per-doc scores (q_quality_scores). */
  private lazy val perceptronCtes: String = {
    val h = PortableHash.duckDbMd5Number("bg", 8)
    s"""WITH d AS (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
       |    regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |f0 AS (
       |  SELECT doc_id, y, $h % 256 AS b
       |  FROM (
       |    SELECT doc_id, y,
       |      array_to_string(toks[CAST(i AS INT):CAST(i + 1 AS INT)], ' ') AS bg
       |    FROM (SELECT doc_id, y, toks, unnest(range(1, len(toks))) AS i
       |          FROM d WHERE len(toks) >= 2))),
       |f AS MATERIALIZED (
       |  SELECT doc_id, y, b, count(*) AS c FROM f0 GROUP BY 1, 2, 3),
       |w1 AS MATERIALIZED (
       |  SELECT b, CAST(sum(y * c) AS BIGINT) AS w FROM f GROUP BY b),
       |m2 AS (SELECT doc_id, y, sum(w * c) AS margin
       |       FROM f JOIN w1 USING (b) GROUP BY 1, 2),
       |d2 AS (SELECT b, CAST(sum(y * c) AS BIGINT) AS dw
       |       FROM f JOIN (SELECT doc_id FROM m2 WHERE y * margin <= 0)
       |         USING (doc_id) GROUP BY b),
       |w2 AS MATERIALIZED (
       |  SELECT w1.b, w1.w + coalesce(d2.dw, 0) AS w
       |  FROM w1 LEFT JOIN d2 ON w1.b = d2.b),
       |m3 AS (SELECT doc_id, y, sum(w * c) AS margin
       |       FROM f JOIN w2 USING (b) GROUP BY 1, 2),
       |d3 AS (SELECT b, CAST(sum(y * c) AS BIGINT) AS dw
       |       FROM f JOIN (SELECT doc_id FROM m3 WHERE y * margin <= 0)
       |         USING (doc_id) GROUP BY b),
       |w3 AS MATERIALIZED (
       |  SELECT w2.b, w2.w + coalesce(d3.dw, 0) AS w
       |  FROM w2 LEFT JOIN d3 ON w2.b = d3.b),
       |mf AS (SELECT doc_id, y, sum(w * c) AS margin
       |       FROM f JOIN w3 USING (b) GROUP BY 1, 2)
       |""".stripMargin
  }
}
