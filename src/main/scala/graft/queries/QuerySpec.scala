package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query of the driver surface: its name, how it is built over a
  * scale-factor directory, the DuckDB oracle its rows must equal, and the
  * action the bench times. Each family object under this package declares
  * its own `specs`; [[graft.Registry]] assembles them.
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Oracle,
    measure: Measure = Count)

sealed trait Oracle

/** DuckDB-dialect SQL run on the same parquet tables; its rows must equal the
  * query's hash-exactly. Column names, rounding and ordering match on both
  * sides (floats rounded, -0.0 normalized, dates stringified — see
  * [[graft.functions.Fx]]).
  */
final case class Sql(text: String) extends Oracle

/** No exact oracle exists; `reason` says why and what checks the query
  * instead. */
final case class NoOracle(reason: String) extends Oracle

sealed trait Measure

/** The bench times `count()`. */
case object Count extends Measure

/** The bench times a parquet write of every column. For a result that joins
  * a per-row aggregate back to a unique-keyed base relation, a bare `count()`
  * lets Catalyst eliminate the whole computation through the left join (a
  * cleaner timed as a row census); the sink materializes what the query
  * really computes.
  */
case object Sink extends Measure
