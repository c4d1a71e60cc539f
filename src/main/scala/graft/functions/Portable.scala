package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType}

/** Column helpers whose results are bit-identical between Spark and the
  * DuckDB oracle (SURVEY.md §6): no raw doubles in query outputs, one
  * portable 60-bit hash, fixed-scale decimal rendering.
  */
object Portable {

  /** The 60-bit deterministic hash shared with DuckDB lives in
    * [[graft.functions.Hash60]] (native expression, bit-identical to
    * `conv(substring(md5(s),1,15),16,10)`); register via
    * [[GraftFunctions.register]] and use `expr("graft_hash60(x)")`.
    * DuckDB side: use [[hash60Duck]] below — and ONLY it (an ad-hoc
    * UBIGINT rendering reintroduces the unsigned-modulo trap).
    */

  /** THE canonical DuckDB rendering of that 60-bit hash for an
    * arbitrary SQL string expression — every oracle must use this one
    * formulation (15 hex digits < 2^60 fits BIGINT directly), kept in
    * sync with the native Spark expression.
    */
  def hash60Duck(x: String): String =
    s"CAST(CONCAT('0x', SUBSTRING(md5($x),1,15)) AS BIGINT)"

  /** THE BPE-ish pretokenizer rule (letter runs, digit runs, single
    * punctuation) — one constant shared by text_tokens' counting and
    * pipe_tokenize's id assignment, on BOTH engine sides: the regex is
    * RE2-compatible, so Java and DuckDB agree match-for-match, and a
    * single definition keeps the two families from silently drifting.
    */
  val PretokRe = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** Double → exact decimal(18,2); both engines round half-up here. */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Render a decimal aggregate as a fixed-scale string so the oracle
    * compare is representation-independent (decimal precision rules
    * differ between engines; the digits don't). NEVER reduce scale in
    * these casts: Spark rounds HALF_UP, DuckDB truncates — rendering
    * must stay at (or above) the value's exact scale.
    */
  def moneyStr(c: Column): Column =
    c.cast(DecimalType(38, 2)).cast(StringType)

  /** For sums of scale-4 products (e.g. price * (1 - discount)). */
  def money4Str(c: Column): Column =
    c.cast(DecimalType(38, 4)).cast(StringType)

  /** For sums of scale-6 triple products (e.g. q9's cost share). */
  def money6Str(c: Column): Column =
    c.cast(DecimalType(38, 6)).cast(StringType)

  /** bpmnProcessId → tenant: everything after the FIRST dash — the
    * reference's split (NatsConsumer: substring(indexOf('-')+1)), which
    * differs from a last-dash split whenever the id itself carries
    * dashes ('transfer-process-tn02' → tenant 'process-tn02'). A
    * dash-less id maps to itself (indexOf = -1 ⇒ substring(0)).
    * DuckDB rendering: `substring(bpmn, instr(bpmn, '-') + 1)`.
    */
  def tenantOf(bpmn: Column): Column =
    bpmn.substr(instr(bpmn, "-") + lit(1), length(bpmn))
}
