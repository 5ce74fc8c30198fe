package pipebench

/** Runs one small op of every workload in one JVM. The build runs it with
  * `-XX:ArchiveClassesAtExit`, so the class-data archive every benchmark
  * JVM then starts from holds the classes all workloads load.
  *
  * {{{
  * Train <work dir>
  * }}}
  */
object Train {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val spark = Main.session(Runtime.getRuntime.availableProcessors(), s"$work/spark")
    val failures = Workload.Names.flatMap { name =>
      val w = Workload(name, 1L, rowsPerDay = Some(100), docs = Some(200))
      w.setup(spark, s"$work/$name")
      Main.attempt(spark, w, 0, None, warmUp = true).failure.map(f => s"$name: $f")
    }
    spark.stop()
    failures.foreach(f => System.err.println(s"[pipebench] training op failed: $f"))
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
