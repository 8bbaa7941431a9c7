package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One harness-facing declared query.
  *
  * @param name     stable key (drives `SparkEntry.queries` / `oracleSql`)
  * @param oracle   equivalent ANSI SQL runnable by DuckDB over the same
  *                 parquet tables; None for ops DuckDB can't express
  *                 (those get the driver's weaker rows-only check).
  * @param noOracleReason REQUIRED exactly when `oracle` is None (Registry
  *                 enforces the XOR): why no hash-comparable oracle can
  *                 exist and where the semantics ARE pinned instead.
  *                 Verify dumps these as `oracle_exclusions.json` so the
  *                 driver's gate can tell "explicitly excluded, verified
  *                 elsewhere" from "unverified" (ADVICE r9 #2).
  * @param releases SessionCache key prefixes whose LAST consumer (in
  *                 [[Registry.sweep]]'s by-name order) is this query: the
  *                 sweep releases them once this query's action
  *                 completes. A release point that turns out early (a
  *                 spec or ad-hoc caller arriving later) just rebuilds
  *                 the entry — storage knob, never correctness.
  * @param build    the Spark-side plan builder. MUST be deterministic
  *                 (stable ORDER BY, no uuid()/rand()) and column names
  *                 MUST match the oracle's exactly — the driver sorts
  *                 columns by name before hashing values.
  */
/** A TOLERANCED value oracle for a rows-only query (VERDICT r11 #3):
  * DuckDB SQL whose sorted rows must match the query's dumped parquet
  * under per-column absolute tolerances — the verification a float-hash
  * exclusion can still carry when its ONLY obstacle is libm/ULP drift.
  * Columns absent from `atol` compare exactly.
  *
  * @param sql  sfDir → ANSI SQL. A function, not a literal, because an
  *             eps oracle may read a Spark-MATERIALIZED input table
  *             (e.g. the greedy-grouping kernel output) via
  *             read_parquet(<fingerprinted path>) — taking the pinned
  *             kernel's output as INPUT and value-verifying everything
  *             downstream of it. Returns None when that table is
  *             unavailable (degrades to rows-only, never to a false
  *             failure).
  * @param atol per-column absolute tolerance. For a column both sides
  *             round(·, d), atol ≈ 1.1·10⁻ᵈ absorbs the one-bin rounding
  *             flip ULP drift can cause while still pinning d digits.
  * @param note what the eps race verifies / what it takes as input.
  */
final case class EpsOracle(
    sql: String => Option[String],
    atol: Map[String, Double],
    note: String)

final case class QueryDef(
    name: String,
    oracle: Option[String],
    releases: Seq[String] = Nil,
    noOracleReason: Option[String] = None,
    epsOracle: Option[EpsOracle] = None)(
    val build: (SparkSession, String) => DataFrame)

/** The held-out eval-suite membership rule shared by every
  * decontamination site (q59 n-gram, q101 semantic, q99/CurationDag's
  * contamination stage) and mirrored verbatim in their oracles.
  *
  * FIXED CARDINALITY (VERDICT r10 #7): eval = the first [[N]] ids —
  * a constant-size suite at any corpus scale, so "the eval side is
  * small and broadcastable" is structural, not an artifact of the
  * harness corpus. The old `id % 31 = 0` convention made the eval set
  * a corpus FRACTION: at 100 TB its distinct-shingle union would grow
  * with the corpus and the broadcast would not survive. A real
  * pipeline joins an actual benchmark table here; first-N-ids is the
  * harness stand-in with the same scale shape.
  */
object EvalSet {
  val N = 64
  def isEval(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = id < N
  def isTrain(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = id >= N
  def sqlEval(idCol: String): String = s"$idCol < $N"
  def sqlTrain(idCol: String): String = s"$idCol >= $N"
}
