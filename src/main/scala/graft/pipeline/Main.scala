package graft.pipeline

/** CLI entry (reference cli.py:26–58: `run --provider X [--limit N]`):
  *
  *   runMain graft.pipeline.Main run --provider sec_edgar [--limit 1]
  *     [--fixtures DIR] [--warehouse DIR] [--blobs DIR] [--runs DIR]
  *
  * Offline (fixture) mode is the default, as in the reference. Prints the
  * reference's summary line shape (cli.py:101–105) and exits non-zero on
  * failure with error.txt written (K12).
  */
object Main {

  private val connectors: Map[String, Connector] = Map(
    SecEdgarConnector.name -> SecEdgarConnector,
    NrcAdamsApsConnector.name -> NrcAdamsApsConnector)

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList)
    val provider = opts.getOrElse("provider",
      fail("--provider is required (sec_edgar | nrc_adams_aps)"))
    val connector = connectors.getOrElse(provider,
      fail(s"unknown provider '$provider' (expected ${connectors.keys.mkString(" | ")})"))
    val limit = opts.getOrElse("limit", "1").toInt
    val fixtures = opts.getOrElse("fixtures", "src/test/resources/fixtures")
    val warehouse = opts.getOrElse("warehouse", "/tmp/graft/warehouse")
    val blobs = opts.getOrElse("blobs", "/tmp/graft/blobs")
    val runs = opts.getOrElse("runs", "/tmp/graft/runs")
    // reference cli.py:29: --live flips to the real transport; offline
    // (fixtures) is the default; credentials come from env (http_client.py:44)
    val live = opts.contains("live")
    val config = HttpSource.HttpConfig.fromEnv(live)
    // CLI default is contiguous: the single-box CLI is the reference-parity
    // surface, so its ids match SQLite AUTOINCREMENT (1..N) out of the box
    // (round-6 ADVICE). --id-mode partitioned selects the shuffle-free
    // scale scheme (sparse ids) — which stays the PROGRAMMATIC default on
    // ProvenanceStore/Runner, where the 100 TB append path matters.
    val idModeName = opts.getOrElse("id-mode", "contiguous")
    val idMode = ProvenanceStore.idMode(idModeName)

    val spark = graft.GraftSession(master = sys.env.get("SPARK_MASTER"))
    try {
      val res = Runner.run(spark, connector, limit, fixtures, warehouse, blobs,
        runs, live = live, config = config, idMode = idMode)
      // reference summary shape (cli.py:101–105)
      println(s"run ${res.status}: provider=$provider attempts=${res.attempts} " +
        s"responses=${res.responses} artifacts=${res.artifacts} " +
        s"parse_errors=${res.parseErrors} id_mode=$idModeName run_dir=${res.runDir}")
      if (idMode == ProvenanceStore.IdMode.Partitioned)
        println("note: id_mode=partitioned assigns sparse (non-contiguous) ids; " +
          "use --id-mode contiguous for SQLite-AUTOINCREMENT id parity")
    } catch {
      case e: Exception =>
        System.err.println(s"run failed: $e")
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
  }

  private def parse(args: List[String]): Map[String, String] = args match {
    case Nil => Map.empty
    case "run" :: rest => parse(rest)
    case "--live" :: rest => parse(rest) + ("live" -> "true")
    case key :: value :: rest if key.startsWith("--") =>
      parse(rest) + (key.stripPrefix("--") -> value)
    case other => fail(s"unrecognized arguments: $other")
  }

  private def fail(msg: String): Nothing = {
    System.err.println(msg)
    sys.exit(2)
  }
}
