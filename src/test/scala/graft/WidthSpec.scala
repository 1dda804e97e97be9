package graft

import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The one shuffle-width rule and its source sizer. */
class WidthSpec extends AnyFunSuite {

  private val T = Width.QueryTarget

  // (case, bytes, floor, cap, expected width)
  private val cases: Seq[(String, Option[Long], Int, Int, Int)] = Seq(
    ("unknown size falls back to the cap", None, 4, 32, 32),
    // (bytes + target - 1) / target wraps negative here, which
    // clamped to the floor instead of the cap
    ("Long.MaxValue bytes is the cap, not the floor", Some(Long.MaxValue), 4, 32, 32),
    ("Long.MaxValue - 1 bytes is the cap", Some(Long.MaxValue - 1), 4, 32, 32),
    ("0 bytes is the floor", Some(0L), 4, 32, 4),
    ("one byte is the floor", Some(1L), 4, 32, 4),
    ("exactly floor targets is the floor", Some(4 * T), 4, 32, 4),
    ("one byte past floor targets opens one more task", Some(4 * T + 1), 4, 32, 5),
    ("exactly 8 targets", Some(8 * T), 4, 32, 8),
    ("one byte under 8 targets", Some(8 * T - 1), 4, 32, 8),
    ("one byte over 8 targets", Some(8 * T + 1), 4, 32, 9),
    ("exactly cap targets is the cap", Some(32 * T), 4, 32, 32),
    ("one byte under cap targets", Some(32 * T - 1), 4, 32, 32),
    ("one byte over cap targets stays at the cap", Some(32 * T + 1), 4, 32, 32),
    ("cap below the floor wins on a big input", Some(100 * T), 4, 2, 2),
    ("cap below the floor wins on an empty input", Some(0L), 4, 2, 2),
    ("cap below the floor wins on an unknown size", None, 4, 2, 2),
    ("floor 1 lets a tiny input run on one task", Some(1L), 1, 32, 1))

  for ((name, bytes, floor, cap, want) <- cases)
    test(s"width: $name") {
      assert(Width.of(bytes, T, floor, cap) == want)
    }

  private def write(p: JPath, n: Int): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, Array.fill[Byte](n)(1))
  }

  test("sizer sums nested data files and skips _SUCCESS and .crc entries") {
    val root = Files.createTempDirectory("graft-width")
    write(root.resolve("date=1704067200/part-00000-a.parquet"), 100)
    write(root.resolve("date=1704067200/.part-00000-a.parquet.crc"), 12)
    write(root.resolve("date=1704153600/part-00001-b.parquet"), 250)
    write(root.resolve("date=1704153600/part-00002-c.parquet"), 40)
    write(root.resolve("date=1704153600/_SUCCESS"), 9)
    write(root.resolve("_SUCCESS"), 7)
    write(root.resolve(".staging-x/part-00003-d.parquet"), 1000)
    write(root.resolve("_spark_metadata/0"), 500)
    val conf = new Configuration()
    val dir = new Path(root.toUri)
    assert(Width.dataBytes(conf, Seq(dir)) == Some(390L))
    // a file path sizes as itself; several paths sum
    val day = new Path(dir, "date=1704153600")
    assert(Width.dataBytes(conf,
      Seq(new Path(day, "part-00001-b.parquet"), new Path(day, "part-00002-c.parquet"))) == Some(290L))
    assert(Width.dataBytes(conf, Seq(new Path(dir, "date=1704067200"), day)) == Some(390L))
  }

  test("sizer reports an unlistable path as unknown, so the width is the cap") {
    val missing = new Path(Files.createTempDirectory("graft-width").resolve("nope").toUri)
    val bytes = Width.dataBytes(new Configuration(), Seq(missing))
    assert(bytes.isEmpty)
    assert(Width.of(bytes, T, 4, 32) == 32)
  }
}
