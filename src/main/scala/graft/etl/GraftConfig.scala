package graft.etl

/** Layered configuration (SURVEY.md §2 L; `etl/hybrid_settings.py:44-91`,
  * `etl/config.ini`): defaults <- properties file <- environment, with
  * validation on load. The reference's DB credentials become Spark
  * paths/knobs.
  */
final case class GraftConfig(
  inputDir: String,
  stagingDir: String,
  warehouseDir: String,
  shufflePartitions: Int) {

  require(shufflePartitions > 0, "shufflePartitions must be positive")
  require(inputDir.nonEmpty && stagingDir.nonEmpty && warehouseDir.nonEmpty,
    "directories must be non-empty")
}

object GraftConfig {

  val defaults: Map[String, String] = Map(
    "graft.input.dir" -> "/tmp/graft_retail/raw",
    "graft.staging.dir" -> "/tmp/graft_retail/staging",
    "graft.warehouse.dir" -> "/tmp/graft_retail/warehouse",
    "graft.shuffle.partitions" -> "32")

  /** Layering: defaults <- `props` (config-file stand-in) <- env vars
    * (GRAFT_INPUT_DIR etc.), mirroring .env-over-ini precedence
    * (`etl/hybrid_settings.py:18-28`).
    */
  def load(props: Map[String, String] = Map.empty,
      env: Map[String, String] = sys.env): GraftConfig = {
    def get(key: String): String = {
      val envKey = key.toUpperCase.replace('.', '_')
      env.getOrElse(envKey, props.getOrElse(key, defaults(key)))
    }
    GraftConfig(
      inputDir = get("graft.input.dir"),
      stagingDir = get("graft.staging.dir"),
      warehouseDir = get("graft.warehouse.dir"),
      shufflePartitions = get("graft.shuffle.partitions").toInt)
  }
}
