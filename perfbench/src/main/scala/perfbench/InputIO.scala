package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object InputIO {

  /** Order-independent digest: row count plus the sums of the low and high
    * halves of each row's xxhash64 (sums of 32-bit halves cannot overflow).
    */
  def digest(df: DataFrame): String = {
    val rh = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.select(count(lit(1)),
      coalesce(sum(rh.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(rh, 32)), lit(0L))).head()
    f"${r.getLong(0)}%d-${r.getLong(1)}%x-${r.getLong(2)}%x"
  }

  def writeText(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }

  def readText(p: Path): String = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
}
