package graft

import org.apache.spark.sql.SparkSession

/** Shared session configuration for the mains, the benchmark and the
  * tests.
  */
object Sessions {

  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // bucketed-table writes (q41) go to a per-process scratch
      // warehouse (concurrent-run safe), deleted at JVM exit
      .config("spark.sql.warehouse.dir", Scratch.register(
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse_" +
          ProcessHandle.current().pid()))
      // Read parquet isAdjustedToUTC=false timestamps as session-TZ(UTC)
      // TimestampType, not TIMESTAMP_NTZ — keeps unix_millis()/calendar
      // functions applicable and matches the DuckDB oracle's naive reads.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

  /** Quiesce streaming machinery BEFORE a harness prints its final
    * artifact line and stops the session: the state-store maintenance
    * thread outlives `spark.stop()` and logs a WARN ("SparkEnv not
    * active") at JVM shutdown — AFTER the harness's last line, which
    * breaks a parser that reads the last stdout line. Stop the
    * maintenance task explicitly and pin that logger to ERROR as a
    * belt (a provider unloaded mid-stop can still race one message).
    */
  def quiesceStreaming(): Unit = {
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.state.StateStore",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
  }
}
