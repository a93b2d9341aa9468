package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level cleaning functions — the Spark re-expression of the
  * reference's pandas clean steps (SURVEY.md §2.3 F1-F10).
  *
  * Everything here is a pure `Column` expression built from
  * `org.apache.spark.sql.functions` so it stays inside whole-stage
  * codegen; no UDFs, no driver-side work, scale-independent.
  */
object CleanFns {

  /** F1+F3: trim + title-case (reference `ETL/user_ETL.py:48-49`,
    * `ETL/loc_ETL.py:48-52`). `initcap` splits on whitespace only;
    * the pandas `.title()` divergence on `"men's"`-style strings is
    * documented in SURVEY.md §7.5 and intentionally not chased.
    */
  def cleanTitle(c: Column): Column = initcap(trim(c))

  /** F4/F5: dictionary recode with pass-through for unknown values
    * (reference gender map `ETL/user_ETL.py:50-55`, category map
    * `ETL/prod_ETL.py:55-59`). A map literal + `element_at` is one
    * codegen'd expression; unknown keys yield null → coalesce back to
    * the input, exactly the pandas `.replace` semantics.
    */
  def recode(c: Column, mapping: Map[String, String]): Column =
    coalesce(element_at(typedLit(mapping), c), c)

  /** F9: ceil to 2 decimals — ceiling, NOT half-up rounding
    * (reference `ETL/prod_ETL.py:53`, `ETL/fact_ETL.py:56`:
    * `np.ceil(x*100)/100`). Spark `ceil(double)` returns LongType;
    * the division by the int literal promotes back to double.
    */
  def ceil2(c: Column): Column = ceil(c * 100) / 100

  /** F8: lenient numeric coercion — null on garbage (reference
    * `pd.to_numeric(errors='coerce')`, `ETL/fact_ETL.py:52`).
    * `try_cast`, not `cast`: Spark 4 runs ANSI mode by default, where
    * a plain cast THROWS on malformed input instead of nulling.
    */
  def coerceDouble(c: Column): Column = c.try_cast("double")

  /** F7: truncate timestamp to day (reference `.dt.normalize()`,
    * `ETL/date_ETL.py:47`).
    */
  def toDay(c: Column): Column = to_date(c)

  /** F10: derived revenue column with the reference's ceil-2 load-time
    * semantics (`ETL/fact_ETL.py:94` computes `quantity*price` in the
    * source SQL; `:56` applies the ceiling).
    */
  def revenue(quantity: Column, price: Column): Column =
    ceil2(quantity * price)
}
