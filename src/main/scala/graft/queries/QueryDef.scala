package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable engine query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle SQL
  * over the same parquet tables. `oracle = None` → the driver records a
  * weaker rows-only check; those queries get ScalaTest specs instead.
  *
  * Determinism contract (so result hashes match the oracle):
  *   - every query ends in a total ORDER BY (explicit null ordering:
  *     Spark ASC defaults nulls-first, DuckDB defaults nulls-last);
  *   - double aggregation casts *raw* columns to DECIMAL first (exact,
  *     order-independent sums in both engines), arithmetic happens in
  *     decimal, and only the final value is cast back to DOUBLE;
  *   - ratios divide decimal-exact operands as doubles (IEEE division
  *     of identical inputs is bit-identical across engines).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "",
    prepare: Option[(SparkSession, String) => Unit] = None) {

  /** Attach an oracle-aux PREPARE hook: the side-effecting
    * materialization (trained model / signature-table parquet under
    * [[OracleAux.root]]) that the DuckDB oracle replays. The harness
    * (Verify, Bench) invokes it OUTSIDE the timed/verified path, so
    * `fn` stays a pure read — the round-4 verdict's aux-hoisting ask.
    * Hooks are memoized per (session, aux dir, corpus) via
    * [[OracleAux.prepareOnce]], so shared artifacts (IVF centroids,
    * band-key tables) publish once however many queries declare them.
    */
  def preparedBy(p: (SparkSession, String) => Unit): Q =
    copy(prepare = Some(p))
}

object Q {
  def sql(name: String, oracle: String, doc: String = "")(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle), doc)

  /** NULLS-FIRST string ordering for DRIVER-side folds over collected
    * group keys (mixture normalizers, rate-table builds). Matches the
    * oracle side's pinned `ORDER BY key ASC NULLS FIRST` list folds —
    * and, unlike `sortBy(_._1)`, does not NPE when a null group key
    * exists (null source/lang documents).
    */
  val nullsFirstString: Ordering[String] = (a: String, b: String) =>
    if (a == null && b == null) 0
    else if (a == null) -1
    else if (b == null) 1
    else a.compareTo(b)
}
