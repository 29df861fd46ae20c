package perfbench

import java.nio.file.{Files, Path}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.SparkSession

/** The archive workload's expected-state oracle on a short daemon run:
  * it accepts what the real daemon leaves behind, and it rejects a store
  * with a missing object, an extra duplicate or wrong current bytes. */
class ArchiveOracleSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val dir: Path = Files.createTempDirectory("perfbench-archive")

  override def beforeAll(): Unit = {
    spark = graft.core.Sessions.local(2)
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = {
    spark.stop()
    Workload.deleteTree(dir)
  }

  test("expected state matches a short run, and tampering is caught") {
    val w = new ArchiveWorkload(spark, dir, 11L)
    try {
      w.inputs(0)
      assert(w.stateError(ArchiveGen.HistoryDays - 1).isEmpty, "seeded history")
      w.warmup()
      (0 until 3).foreach { i =>
        w.op(i)
        assert(w.check(i).isEmpty, s"op $i: ${w.check(i)}")
      }
      val day = ArchiveGen.HistoryDays - 1 + ArchiveWorkload.WarmDays + 3
      val gen = new ArchiveGen(11L)
      // the run archived both kept and deleted Maxmind fetches
      val mm = (ArchiveGen.HistoryDays to day).map(gen.maxmindKept)
      assert(mm.contains(true) && mm.contains(false))
      val root = dir.resolve("archive-0")
      // a missing archived file
      val victim = root.resolve(gen.archiveName(0, day - 1))
      val saved = Files.readAllBytes(victim)
      Files.delete(victim)
      assert(w.stateError(day).exists(_.contains("missing")))
      Files.write(victim, saved)
      assert(w.stateError(day).isEmpty)
      // a duplicate Maxmind object in the same month scope
      val kept = root.resolve(gen.maxmindName((0 to day).filter(gen.maxmindKept).last))
      val twin = kept.resolveSibling("20990101T000000Z-GeoLite2-City.tar.gz")
      Files.copy(kept, twin)
      assert(w.stateError(day).exists(_.contains("unexpected")))
      Files.delete(twin)
      // a current pointer holding stale bytes
      val cur = root.resolve(gen.currentName(1))
      val fresh = Files.readAllBytes(cur)
      Files.write(cur, gen.payload(1, day - 1))
      assert(w.stateError(day).exists(_.contains("wrong bytes")))
      Files.write(cur, fresh)
      assert(w.stateError(day).isEmpty)
      // the next day is not yet archived
      assert(w.stateError(day + 1).nonEmpty)
    } finally w.close()
  }

  test("every query the workloads name is declared") {
    assert(Main.resolve(Main.heavyQueries).size == 16)
    assert(Main.floorQueries.forall(graft.SparkEntry.queries.contains))
  }
}
