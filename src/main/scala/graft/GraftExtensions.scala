package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSessionExtensions

/** The engine's `spark.sql.extensions` entry point:
 *
 * {{{
 *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
 * }}}
 *
 * injects every graft Catalyst function (codecs, preconditioning, simhash,
 * vector kernels, tier_stats) into each new SparkSession via the public
 * `SparkSessionExtensions.injectFunction` API, so SQL resolves them by name
 * (SURVEY.md §2.11). It is the SQL entry point only: engine code builds
 * the same expressions from the same table with `GraftFunctions.call` and
 * needs no extension. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.injectInto(ext)
}
