package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query of the driver contract, declared once: its name (a SURVEY
  * §2 operator id or a family-prefixed name), the program that runs it
  * over an sf directory, and the DuckDB SQL the driver hash-compares its
  * result against at sf0.01 (`None`: no oracle, rows-only check).
  *
  * The defs live one file per family (`*Defs.scala` in this package, the
  * family chosen by name prefix); [[graft.SparkEntry]] concatenates them
  * into the `queries` / `oracleSql` views.
  *
  * Driver-compare conventions (applied on both sides of every pair):
  *   - identical lowercase column aliases (the compare sorts columns by
  *     name before hashing);
  *   - total ORDER BY for deterministic row order;
  *   - oracle CASTs wherever DuckDB's natural type differs from Spark's
  *     (EXTRACT/length/row_number → BIGINT but Spark emits INT, ceil →
  *     DOUBLE but Spark emits BIGINT, etc.);
  *   - derived float arithmetic is done in double on both sides (IEEE-
  *     identical in any engine; float promotion rules are not).
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])
