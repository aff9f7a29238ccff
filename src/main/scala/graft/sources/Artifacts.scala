package graft.sources

/** Single root for every learn-once artifact (BPE merge tables, IVF
  * postings, LSH planes, LR weights, suffix-rank pyramids, stress
  * scratch). Configurable via `GRAFT_ARTIFACT_ROOT` — a multi-node
  * deployment points it at shared storage (an HDFS/S3 URI works
  * unchanged: every reader/writer goes through the Spark/Hadoop FS
  * API) — and defaults to `<java.io.tmpdir>/graft_artifacts` for
  * local runs. No call site hardcodes a temp path (r9 verdict #6;
  * grep-enforced by ArtifactHygieneSpec).
  */
object Artifacts {

  val root: String = sys.env.getOrElse("GRAFT_ARTIFACT_ROOT",
    new java.io.File(sys.props("java.io.tmpdir"), "graft_artifacts")
      .getPath)

  /** 8-hex SHA-256 prefix — a path disambiguator, not a security
    * hash.
    */
  def sha8(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString

  /** Artifact directory for `kind` over input `dataDir`, with the
    * hyperparameters that shape the artifact baked into the name
    * (derived, not hand-synced — advisor r5). The name carries BOTH
    * a readable sanitized prefix and the SHA-256 prefix of the RAW
    * dir string: two data dirs that sanitize identically (or differ
    * only in stripped characters) must never share an artifact
    * (r9 advisory #3 — the sanitize-only name let distinct dirs
    * collide and overwrite each other's weights between build and
    * oracle replay).
    */
  def dir(kind: String, dataDir: String, params: String): String =
    s"$root/$kind/${dataDir.replaceAll("[^A-Za-z0-9]", "_")}_" +
      sha8(dataDir) + s"_$params"

  /** Row count of a parquet file/directory from footers only — no
    * SparkSession (artifact paths whose name bakes in a data-derived
    * parameter, e.g. the IVF quantizer's corpus-sized nLists, must be
    * derivable at oracle-SQL materialization time, before any session
    * exists). Footer reads are O(files), not O(rows), and are cached
    * in the path's [[graft.Tables.ParquetMeta]] entry, keyed by path
    * plus the root-status mtime: the stress harnesses
    * `mode("overwrite")` tables at a stable path within one JVM, and a
    * path-only key would hand the sizing law the PREVIOUS corpus's
    * count while the fingerprint guard rebuilds over the new data.
    * Goes through the Hadoop FS API, so an HDFS/S3 artifact root works
    * unchanged.
    */
  def parquetRowCount(path: String): Long =
    graft.Tables.parquetMeta(path,
      new org.apache.hadoop.conf.Configuration()).rowCount
}
