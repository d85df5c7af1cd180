package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one-parse spelling both text-line sources share ([[CsvEdges]],
  * [[JsonLines]]). A plain `select(parse(value).as(c))` does not keep
  * "one parse per line": Catalyst pushes every later filter on `c.*`
  * (the clean/quarantine split, a MAX filter, a caller's predicate)
  * below that projection and substitutes the alias, so the plan spells
  * `from_csv`/`from_json` once per reference. Wrapping the parse in a
  * one-element `explode` makes its result a GENERATOR OUTPUT attribute:
  * a filter on it cannot move below the Generate, so the parse runs
  * exactly once per line however many predicates sit above. Stateless,
  * so the batch text scan and an unbounded `readStream` of lines run the
  * same plan.
  */
private[sources] object ParseOnce {

  /** Non-blank lines of `lines.value`, each parsed ONCE into column
    * `as`, beside the raw `value` line. */
  def apply(lines: DataFrame, parse: Column => Column, as: String): DataFrame =
    lines
      .filter(length(trim(col("value"))) > 0)
      .select(explode(array(parse(col("value")))).as(as), col("value"))
}
