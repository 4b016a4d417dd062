package graft


import graft.sinks.Ledger

/** [[Ledger.prune]] contract: per-namespace trailing retention, the
  * newest markers survive, suffix-less markers are never touched. */
class LedgerSpec extends GraftSuite {

  private def mk(path: String, names: Seq[String]): Unit = {
    val dir = new org.apache.hadoop.fs.Path(path, "_applied")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    names.foreach(n =>
      fs.create(new org.apache.hadoop.fs.Path(dir, n), true).close())
  }

  private def ls(path: String): Set[String] = {
    val dir = new org.apache.hadoop.fs.Path(path, "_applied")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).map(_.getPath.getName).toSet
  }

  test("keeps the newest K per namespace, leaves other namespaces " +
      "and unparseable names alone") {
    val path = tempDir("ledger").toString
    mk(path, (0 to 9).map(i => s"epoch_$i") ++
      (0 to 2).map(i => s"runabc_$i") ++ Seq("MANIFEST"))
    val deleted = Ledger.prune(spark, path, keep = 3)
    assert(deleted == 7)
    assert(ls(path) == Set("epoch_7", "epoch_8", "epoch_9",
      "runabc_0", "runabc_1", "runabc_2", "MANIFEST"))
  }

  test("missing ledger dir is a zero no-op; replay after prune is " +
      "still absorbed for retained epochs") {
    val path = tempDir("ledger2").toString
    assert(Ledger.prune(spark, path) == 0L)
  }

  test("namespace sweep drops dead runs entirely, keeps the newest " +
      "namespaces and suffix-less markers") {
    val path = tempDir("ledger3").toString
    mk(path, Seq("runaaa_0", "runaaa_1", "runbbb_0", "epoch_0",
      "epoch_1", "MANIFEST"))
    val dir = new org.apache.hadoop.fs.Path(path, "_applied")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def touch(name: String, t: Long): Unit =
      fs.setTimes(new org.apache.hadoop.fs.Path(dir, name), t, -1)
    // runaaa is the DEAD run (oldest markers); epoch is the live one
    Seq("runaaa_0" -> 1000L, "runaaa_1" -> 1500L, "runbbb_0" -> 2000L,
      "epoch_0" -> 3000L, "epoch_1" -> 3500L).foreach((touch _).tupled)
    val deleted = Ledger.prune(spark, path, keep = 10, keepNamespaces = 2)
    assert(deleted == 2)
    assert(ls(path) ==
      Set("runbbb_0", "epoch_0", "epoch_1", "MANIFEST"))
    // unbounded keepNamespaces (the default) sweeps nothing
    assert(Ledger.prune(spark, path, keep = 10) == 0L)
  }
}
