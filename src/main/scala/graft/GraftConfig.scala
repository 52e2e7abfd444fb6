package graft

/** Environment-based defaults (reference db2pq files/paths.py:13
  * resolve_data_dir): `DATA_DIR` roots the parquet repository. */
object GraftConfig {

  def resolveDataDir(dataDir: Option[String] = None): String =
    dataDir
      .orElse(sys.env.get("DATA_DIR"))
      .getOrElse(System.getProperty("user.dir"))
}
