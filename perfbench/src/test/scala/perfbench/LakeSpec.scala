package perfbench

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import perfbench.Lake.{DayNs, HourNs}

class LakeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("perfbench-lake").toFile
  private lazy val spark = Main.session(work, 2)

  override def afterAll(): Unit = {
    spark.stop()
    def rm(f: File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }
    rm(work)
  }

  test("the lake build writes one file per hour whose zone map covers its rows") {
    val source = Lake.loadSource(spark, new File("data"))
    assert(source.size == 100000)
    val start = Lake.startOf(source)
    val rows = Lake.slice(source, start, start + Lake.Days * DayNs)
    val root = new File(work, "lake")
    Lake.write(spark, root, rows, SaveMode.Overwrite)

    val files = Lake.parquetFiles(root)
    assert(files.size == Lake.Days * 24)
    val mapper = new ObjectMapper()
    val entries = files.map(_.getParentFile).distinct.flatMap { dir =>
      mapper.readTree(new File(dir, "metadata.json")).get("files").elements().asScala
        .map(n => (n.get("min_time").asLong, n.get("max_time").asLong, n.get("row_count").asLong))
    }
    assert(entries.size == files.size)
    assert(entries.map(_._3).sum == rows.size)
    // every source row falls in exactly one file's [min, max], and that
    // file's hour holds exactly its rows
    entries.foreach { case (mn, mx, n) =>
      val hour = Math.floorDiv(mn, HourNs) * HourNs
      assert(mx < hour + HourNs)
      val inHour = Lake.slice(rows, hour, hour + HourNs)
      assert(inHour.size == n)
      assert(inHour.head.time == mn && inHour.last.time == mx)
    }
    val read = spark.read.parquet(files.map(_.getAbsolutePath): _*)
    assert(read.count() == rows.size)
  }
}
