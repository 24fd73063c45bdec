package perfbench

import java.io.File

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

class NewsMonthlySpec extends AnyFunSuite {

  test("a month whose op throws still yields a result line with correct=false") {
    val work = new File("target/test-work/news-monthly")
    FileUtils.deleteDirectory(work)
    work.mkdirs()
    val spark = GraftSession.builder("local[2]", "2")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    try {
      val w = new NewsMonthly(Ctx(spark, new Tracer(false), 7L, work))
      w.generate()
      w.setup(0)
      assert(w.setupOk)
      // with Serve stopped, month 1's POST /train throws
      w.close()
      intercept[java.io.IOException](w.op(0))
      assert(w.hasNext)

      val report = Seq(Metric("setup_s", "s", 1.0, 1), Metric("peak_rss_mb", "MB", 1.0, 1)) ++
        w.report
      val e2e = Main.endToEnd(report, w.roles).map(m => m.name -> m.value).toMap
      assert(e2e("quality") == 0.0)
      assert(e2e("op_p50_s").isNaN)

      val line = Json.mapper.readTree(
        Main.resultLine(correct = false, 1, 1, Main.endToEnd(report, w.roles)))
      assert(!line.get("correct").asBoolean())
      assert(line.get("failed").asInt() == 1)
      assert(line.path("metrics").path("quality").path("value").asDouble() == 0.0)
      assert(line.path("metrics").path("op_p50_s").path("value").isNull)
    } finally {
      spark.stop()
      FileUtils.deleteDirectory(work)
    }
  }
}
