package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

/** Reads back the functions a [[SparkSessionExtensions]] would install —
  * `registerFunctions` is `private[sql]`. */
object InjectedFunctions {
  def ids(ext: SparkSessionExtensions): Seq[FunctionIdentifier] =
    ext.registerFunctions(new SimpleFunctionRegistry).listFunction()
}
