package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** [[Scratch]] owns where faces land their files: one fresh root per JVM,
  * so a face's landing cannot be deleted or overwritten by another JVM
  * that builds the same face over the same sf dir. */
class ScratchSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  test("landing paths sit in one fresh per-JVM root, keyed by name and sf dir") {
    val a = Paths.get(Scratch.dir("orders_ranged", sf))
    assert(a.getFileName.toString == "orders_ranged__root_testdata_sf0_01")
    assert(a.isAbsolute)
    val root = a.getParent
    assert(root.getFileName.toString.startsWith("graft-") && Files.isDirectory(root))
    assert(root.getParent == Paths.get(sys.props("java.io.tmpdir")).toAbsolutePath)
    assert(Paths.get(Scratch.dir("ivf", "/root/testdata/sf0.001")).getParent == root)
    assert(Scratch.dir("ivf", sf) != Scratch.dir("ivf", "/root/testdata/sf0.001"))
    assert(Scratch.key("/a/b-c.d") == "_a_b_c_d")
  }

  test("fresh dirs are new, empty and inside the per-JVM root") {
    val root = Paths.get(Scratch.dir("x", sf)).getParent
    val a = Scratch.fresh("spec_")
    val b = Scratch.fresh("spec_")
    assert(a != b && a.getParent == root && b.getParent == root)
    assert(a.getFileName.toString.startsWith("spec_"))
    assert(Files.isDirectory(a) && a.toFile.list().isEmpty)
  }

  test("a landed snapshot survives another JVM clearing the old shared tmp path") {
    val df = SparkEntry.queries("rel_range_snapshot_census")(spark, sf)
    // the fixed path every JVM used to land this snapshot at: another JVM
    // building the face over the same sf dir overwrites it, deleting the
    // files this frame already listed
    val shared = Paths.get(sys.props("java.io.tmpdir"),
      "graft_orders_ranged_" + sf.replaceAll("[^A-Za-z0-9]", "_"))
    org.apache.commons.io.FileUtils.deleteDirectory(shared.toFile)
    val row = df.collect().head
    assert(row.getAs[Long]("n_files") ==
      graft.relational.RelationalQueries.RangeSnapshotFiles)
    assert(row.getAs[Long]("total_rows") == graft.sources.Tables.orders(spark, sf).count())
    assert(row.getAs[Long]("overlap_violations") == 0L)
  }
}
