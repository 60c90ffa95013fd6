package graft.sources

import org.apache.spark.sql.{SQLContext, classic}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.streaming.Source
import org.apache.spark.sql.execution.streaming.runtime.FileStreamSource
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** `spark.readStream.format("fecpipe")`: the FEC bulk pipe-text feeds
  * (`indiv22.txt` and friends) as a file stream. It is Spark's own
  * [[FileStreamSource]] over the CSV format with the one pipe-text
  * setup of [[graft.fec.FecSchemas]], so the stream and the batch run
  * share one parser; Spark's CSV scan prunes columns and pushes filters.
  *
  *  - `option("table", "indiv22")` picks the schema from
  *    [[graft.fec.FecSchemas.registry]]; a user schema overrides it.
  *  - `option("mode", …)`: `fail` (default) fails the batch on a line
  *    whose field count is not the schema width, even when the query
  *    reads fewer columns; `permissive` null-pads short lines and drops
  *    extra trailing fields. Any other value throws (Spark's CSV reader
  *    would fall back to PERMISSIVE silently).
  *  - Text decodes as UTF-8; malformed bytes become U+FFFD. */
class FecPipeSource extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "fecpipe"

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    csvOptions(parameters) // an unknown mode fails at load(), not at start()
    (shortName(), schema.getOrElse(registrySchema(parameters)))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new FileStreamSource(
      sqlContext.sparkSession.asInstanceOf[classic.SparkSession],
      parameters.getOrElse("path",
        throw new IllegalArgumentException("fecpipe: no path")),
      classOf[CSVFileFormat].getCanonicalName,
      schema.getOrElse(registrySchema(parameters)), Nil, metadataPath,
      csvOptions(parameters))

  private def registrySchema(parameters: Map[String, String]): StructType = {
    val table = parameters.getOrElse("table", throw new IllegalArgumentException(
      "fecpipe: pass option(\"table\", <registry name>) or an explicit schema"))
    graft.fec.FecSchemas.registry.getOrElse(table,
      throw new IllegalArgumentException(s"fecpipe: unknown table $table"))
  }

  // without column pruning the CSV parser splits every field, so the
  // width check of FAILFAST sees the whole line under any projection
  private def csvOptions(parameters: Map[String, String]): Map[String, String] =
    parameters ++ graft.fec.FecSchemas.pipeText ++ (
      parameters.getOrElse("mode", "fail").toLowerCase match {
        case "fail" => Map("mode" -> "FAILFAST", "columnPruning" -> "false")
        case "permissive" => Map("mode" -> "PERMISSIVE")
        case other => throw new IllegalArgumentException(
          s"fecpipe: mode must be fail|permissive, got $other")
      })
}
