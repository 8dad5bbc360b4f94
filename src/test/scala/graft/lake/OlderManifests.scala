package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Lakes as older writers left them, for specs that pin how the engine
  * reads metadata recorded before a manifest field existed.
  */
object OlderManifests {

  /** Rewrite `table`'s manifest without `ts_nulls`, as a manifest
    * written before the field existed reads: no file then carries a
    * recorded null-ts-free proof.
    */
  def dropTsNulls(spark: SparkSession, lake: Lake, table: String): Unit = {
    val dir = s"${lake.tableDir(table)}/_graft_manifest"
    val conf = spark.sessionState.newHadoopConf()
    val rows = ManifestIO.readManifest(conf, dir).map(_.copy(tsNulls = None))
    val path = new Path(dir)
    path.getFileSystem(conf).delete(path, true)
    ManifestIO.writeManifest(conf, dir, rows)
  }
}
