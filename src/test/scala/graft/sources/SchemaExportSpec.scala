package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** The bounded export pool of [[SchemaExport]]: results in input order,
  * a non-fatal failure names its item, a fatal error propagates as
  * itself. */
class SchemaExportSpec extends AnyFunSuite {

  test("inParallel keeps the input order") {
    val items = (1 to 12).toSeq
    assert(SchemaExport.inParallel(items, 4) { i => Thread.sleep(13 - i); i * 2 } ==
      items.map(_ * 2))
  }

  test("a non-fatal failure carries its item; a fatal error is not wrapped") {
    val failed = intercept[RuntimeException](SchemaExport.inParallel(Seq("t1", "t2"), 2) {
      t => if (t == "t2") throw new IllegalStateException("planted") else t
    })
    assert(failed.getMessage == "export of 't2' failed: planted")
    assert(failed.getCause.isInstanceOf[IllegalStateException])
    val fatal = intercept[OutOfMemoryError](SchemaExport.inParallel(Seq("t1", "t2"), 2) {
      t => if (t == "t2") throw new OutOfMemoryError("planted") else t
    })
    assert(fatal.getMessage == "planted")
  }
}
