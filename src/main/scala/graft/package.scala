/** graft — a Spark-native analytics engine with the capabilities of the
  * reference e-commerce data-warehouse + recommender system, extended
  * with the operators a large-scale training-data pipeline needs.
  *
  * Organization:
  *
  *  - [[graft.core]] — session factory (AQE, UTC, extensions) and
  *    harness-table accessors.
  *  - [[graft.etl]] — star-schema warehouse builders and the
  *    DAG-equivalent concurrent pipeline runner.
  *  - [[graft.analytics]] — ad-hoc SQL, catalog, and export surface.
  *  - [[graft.ml]] — ALS implicit-MF recommender: cosine top-k
  *    serving, MMR diversification, reference-exact evaluation,
  *    coverage, PCA projection, persistence.
  *  - [[graft.operators]] — dedup (exact / MinHash+LSH / SimHash /
  *    char-gram Jaccard / connected-component clusters) and the as-of
  *    join.
  *  - [[graft.functions]] — text analysis and vector similarity as
  *    codegen-friendly column expressions, plus native Catalyst
  *    expressions (vec_dot, vec_cosine) and the bounded top-k
  *    aggregate (topk_scores).
  *  - [[graft.plans]] — SparkSessionExtensions registration.
  *  - [[graft.multimodal]] — binary media columns with typed metadata
  *    and batched decode plumbing.
  *  - [[graft.streaming]] — Structured Streaming ingest, event-time
  *    windows, and custom per-key state.
  *  - [[graft.queries]] — the driver-facing inventory: every operator
  *    as a runnable query with a DuckDB oracle where SQL-expressible.
  *
  * Design rules are documented in README.md §"Scale design"; every
  * operator is written for a 1000-executor cluster first and verified
  * bit-exactly against DuckDB at test scale.
  */
package object graft {

  /** The engine's one diagnostic channel: gate decisions and contract
    * summaries at DEBUG, fallbacks at WARN. Its level is set in Spark's
    * log4j2 configuration (`logger.graft.name = graft`,
    * `logger.graft.level = debug`); left unset it follows the root
    * level, which `GraftSession.local` lowers to WARN. */
  private[graft] val log: org.slf4j.Logger = org.slf4j.LoggerFactory.getLogger("graft")
}
