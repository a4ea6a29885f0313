package org.apache.spark.sql

/** Test access to Spark internals that the public API does not expose. */
object GraftTestShims {

  /** The settings a session builder will apply, by key. The field is
    * protected in Scala but public in bytecode, so reflection reads it. */
  def builderOptions(b: SparkSessionBuilder): Map[String, String] =
    classOf[SparkSessionBuilder].getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.mutable.HashMap[String, String]].toMap
}
