package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col

/** A data column referenced by its literal name. `functions.col` parses
  * its argument as a path, so `col("unit.price")` asks for field `price`
  * of a struct `unit` and fails analysis on a flat file whose header says
  * `unit.price`. File headers are names, not paths: the ETL layers resolve
  * them through here, backtick-quoted with embedded backticks doubled. */
object ColumnRef {
  def apply(name: String): Column = col("`" + name.replace("`", "``") + "`")
}
