package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.Assertions.assert

import graft.SharedSpark

/** A file-source stream that a test feeds in steps, and the checkpoint
  * its queries share. Each [[write]] lands one parquet file with a
  * strictly later mtime, and [[stream]] reads one file per micro-batch,
  * so batches follow write order. Each [[drain]] runs a new query to the
  * end of what is written and stops; the next drain restarts on the
  * same checkpoint.
  */
class FileFeed[T: Encoder](spark: SparkSession, prefix: String) {

  private val dir = SharedSpark.tempDir(prefix + "_src").toFile
  private val checkpoint = SharedSpark.tempDir(prefix + "_ckpt").toString
  private var mtime = System.currentTimeMillis() - 60000

  def write(name: String, rows: Seq[T]): Unit = {
    val tmp = SharedSpark.tempDir(prefix + "_tmp").toString
    spark.createDataset(rows).coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = new File(dir, name)
    Files.move(part.toPath, dst.toPath)
    mtime += 1000
    assert(dst.setLastModified(mtime))
  }

  def stream: Dataset[T] =
    spark.readStream.schema(implicitly[Encoder[T]].schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.getAbsolutePath).as[T]

  /** Runs `query` (built over [[stream]]) until it has read every file
    * written so far, passing each output row to `each`.
    */
  def drain[U](query: Dataset[U])(each: U => Unit): Unit = {
    val q = query.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (out: Dataset[U], _: Long) =>
        out.collect().foreach(each)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(300000), "stream did not finish in 300s")
  }
}
