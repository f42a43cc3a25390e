package perfbench

import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Writes the corpus_dedup tables with the parquet library directly, so
  * input generation needs no Spark session. Rows are dealt round-robin
  * into `parts` files, which Spark reads as that many partitions. */
object ParquetOut {

  private val documents = MessageTypeParser.parseMessageType(
    """message documents {
      |  required int64 doc_id;
      |  required binary text (STRING);
      |  required binary lang (STRING);
      |  required binary source (STRING);
      |  required int64 n_chars;
      |}""".stripMargin)

  private val embeddings = MessageTypeParser.parseMessageType(
    """message embeddings {
      |  required int64 vec_id;
      |  required group embedding (LIST) {
      |    repeated group list {
      |      required float element;
      |    }
      |  }
      |  required int32 label;
      |}""".stripMargin)

  private def write[T](dir: Path, schema: MessageType, rows: Seq[T], parts: Int)(
      fill: (Group, T) => Unit): Unit = {
    Files.createDirectories(dir)
    val f = new SimpleGroupFactory(schema)
    (0 until parts).foreach { p =>
      val w = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(dir.resolve(f"part-$p%05d.parquet").toString))
        .withType(schema).withConf(new Configuration()).build()
      try rows.indices.filter(_ % parts == p).foreach { i =>
        val g = f.newGroup()
        fill(g, rows(i))
        w.write(g)
      } finally w.close()
    }
  }

  def docs(dir: Path, rows: Seq[Gen.Doc], parts: Int): Unit =
    write(dir, documents, rows, parts) { (g, d) =>
      g.append("doc_id", d.id).append("text", d.text).append("lang", d.lang)
        .append("source", d.source).append("n_chars", d.text.length.toLong)
    }

  def vecs(dir: Path, rows: Seq[Gen.Vec], parts: Int): Unit =
    write(dir, embeddings, rows, parts) { (g, v) =>
      g.append("vec_id", v.id)
      val list = g.addGroup("embedding")
      v.v.foreach(x => list.addGroup("list").append("element", x))
      g.append("label", v.label)
    }
}
