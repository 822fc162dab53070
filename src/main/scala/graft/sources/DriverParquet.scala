package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** Driver-local parquet reads for SERVING-SIZED artifacts (round-20
  * optimization). Every registry/serving load (`ModelRegistry.load*`,
  * `LocalAnn.load`) used to run `spark.read.parquet(...).collect()` on
  * KiB–MB tables: each such read is a full Spark SQL job — plan,
  * optimize, schedule, one task — costing 100–400 ms of pure
  * orchestration for data that takes single-digit milliseconds to
  * parse. A LocalAnn.load stacked 8–10 of those (version resolution ×4,
  * meta, codebooks, codes, tombstones), making the REGISTRY RELOAD the
  * dominant cost of the whole ANN gate tier (measured: ~1.2 s per load,
  * ~5.8 s of q181's ~7 s; guide §1 "decide where the time goes first").
  *
  * A serving node loading its shard is exactly the case where Spark's
  * distributed machinery buys nothing: the artifact is driver-resident
  * by design (LocalAnn's contract), the bytes are local, and the read
  * is once-per-deployment. So these loads now read parquet directly
  * with parquet-mr's Group API — the SAME files, byte for byte, no
  * Spark job. Floats/doubles round-trip bit-exactly (same decoder
  * library Spark itself uses underneath), and DriverParquetSpec pins
  * row-for-row, bit-for-bit equality against `spark.read.parquet`'s
  * collect on every artifact layout the registry writes. DataFrame-
  * returning surfaces (`loadPqCodes`, `Ivf.load`, `list`) are
  * unchanged — batch arms still read through Spark with pushdown.
  *
  * Supported types: the registry artifact surface — int/long/float/
  * double/boolean/string plus (nested) arrays of those. Unsupported
  * types fail loudly.
  */
object DriverParquet {

  /** All rows of a parquet file or directory of part files, read
    * driver-locally. Column order follows `cols` (the file's own order
    * when empty); rows are returned file-by-file (part files sorted by
    * name), in row order within each file. Callers must not depend on
    * cross-file row order — none do: every consumer either sorts
    * explicitly or ranks with total-order tie-breaks. */
  def readRows(spark: SparkSession, path: String, cols: Seq[String] = Nil): Array[Row] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    require(fs.exists(p), s"[DriverParquet] path does not exist: $path")
    val files: Seq[Path] =
      if (fs.getFileStatus(p).isFile) Seq(p)
      else fs.listStatus(p).toSeq
        .filter { s =>
          val n = s.getPath.getName
          s.isFile && !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
        }
        .sortBy(_.getPath.getName)
        .map(_.getPath)
    require(files.nonEmpty, s"[DriverParquet] no parquet files under $path")
    // resolve (name -> index) PER FILE footer, like spark.read's by-name
    // resolution (round-21 advice): part files of an append-mode table
    // can differ in physical column order across writer versions, and
    // applying the first file's indices positionally would silently
    // misread the others. Types must agree with the first file's — a
    // genuine schema conflict fails loudly instead of coercing.
    def resolve(schema: GroupType, f: Path): Seq[(Type, Int)] = {
      val byName = schema.getFields.toArray(Array.empty[Type]).zipWithIndex
        .map { case (t, i) => t.getName -> ((t, i)) }.toMap
      val names = if (cols.nonEmpty) cols else schema.getFields
        .toArray(Array.empty[Type]).map(_.getName).toSeq
      names.map(n => byName.getOrElse(n, throw new IllegalArgumentException(
        s"[DriverParquet] no column `$n` in $f (table $path) " +
          s"(columns: ${byName.keys.toSeq.sorted.mkString(", ")})")))
    }
    val selectedHead = resolve(footerSchema(files.head, conf), files.head)
    val structType = StructType(selectedHead.map { case (t, _) =>
      StructField(t.getName, sparkType(t, path), nullable = true)
    })
    // One OPEN per part file — footer and row groups read through the
    // same reader (the old ParquetReader.builder path re-opened each
    // file to re-parse the footer resolve() had just read) — and
    // independent part files read in PARALLEL on the common pool
    // (round-21): a KiB part file costs ~16 ms of fixed open/footer
    // overhead, and append-mode tables (the registry meta) accumulate
    // one file per lifecycle step, so a post-compact registry paid
    // 12× that per version resolution, serially. Determinism: each
    // file's rows land in its own slot and concatenate in the same
    // sorted-by-name file order as before; row order within a file is
    // the row-group order, unchanged.
    def readFile(f: Path): Array[Row] = {
      val in = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        val schema = in.getFooter.getFileMetaData.getSchema
        val selected =
          if (f == files.head) selectedHead
          else {
            val s = resolve(schema, f)
            s.zip(selectedHead).foreach { case ((t, _), (t0, _)) =>
              require(t.equals(t0),
                s"[DriverParquet] column `${t.getName}` in $f has type $t " +
                  s"but ${files.head} has $t0 (table $path) - schema conflict")
            }
            s
          }
        val io = new org.apache.parquet.io.ColumnIOFactory().getColumnIO(schema)
        val out = Array.newBuilder[Row]
        var pages = in.readNextRowGroup()
        while (pages != null) {
          val rr = io.getRecordReader(pages,
            new org.apache.parquet.example.data.simple.convert
              .GroupRecordConverter(schema))
          val n = pages.getRowCount
          var i = 0L
          while (i < n) {
            val g = rr.read()
            val values = new Array[Any](selected.size)
            var k = 0
            while (k < selected.size) {
              val (t, idx) = selected(k)
              values(k) =
                if (g.getFieldRepetitionCount(idx) == 0) null
                else readValue(g, idx, 0, t, path)
              k += 1
            }
            out += new GenericRowWithSchema(values, structType)
            i += 1
          }
          pages = in.readNextRowGroup()
        }
        out.result()
      } finally in.close()
    }
    val perFile = new Array[Array[Row]](files.length)
    val tasks = files.zipWithIndex.map { case (f, i) =>
      java.util.concurrent.CompletableFuture.runAsync(() => {
        perFile(i) = readFile(f)
      })
    }
    try tasks.foreach(_.join())
    catch { case e: java.util.concurrent.CompletionException =>
      throw Option(e.getCause).getOrElse(e) } // fail with the real reader error
    val out = Array.newBuilder[Row]
    perFile.foreach(out ++= _)
    out.result()
  }

  /** First row of `path` (meta tables) — fails loudly when empty, the
    * `.head()` contract of the Spark reads it replaces. */
  def headRow(spark: SparkSession, path: String, cols: Seq[String] = Nil): Row = {
    val rows = readRows(spark, path, cols)
    require(rows.nonEmpty, s"[DriverParquet] empty parquet table at $path")
    rows(0)
  }

  /** The column NAMES of `path` (footer-only; drives the
    * schema-evolution branches that used `df.columns`). */
  def columnNames(spark: SparkSession, path: String): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    require(fs.exists(p), s"[DriverParquet] path does not exist: $path")
    val file =
      if (fs.getFileStatus(p).isFile) p
      else fs.listStatus(p).toSeq
        .filter { s =>
          val n = s.getPath.getName
          s.isFile && !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
        }
        .sortBy(_.getPath.getName).map(_.getPath).headOption
        .getOrElse(throw new IllegalArgumentException(
          s"[DriverParquet] no parquet files under $path"))
    footerSchema(file, conf).getFields.toArray(Array.empty[Type]).map(_.getName).toSeq
  }

  /** The Spark StructType of `path` (footer-only, supported types). */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    require(fs.exists(p), s"[DriverParquet] path does not exist: $path")
    val file =
      if (fs.getFileStatus(p).isFile) p
      else fs.listStatus(p).toSeq
        .filter { s =>
          val n = s.getPath.getName
          s.isFile && !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
        }
        .sortBy(_.getPath.getName).map(_.getPath).headOption
        .getOrElse(throw new IllegalArgumentException(
          s"[DriverParquet] no parquet files under $path"))
    StructType(footerSchema(file, conf).getFields.toArray(Array.empty[Type])
      .map(t => StructField(t.getName, sparkType(t, path), nullable = true)))
  }

  private def footerSchema(file: Path, conf: Configuration): GroupType = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try r.getFooter.getFileMetaData.getSchema
    finally r.close()
  }

  /** Driver-local parquet WRITE of a serving-sized table (the write
    * twin of [[readRows]]): one part file under `path`, snappy, the
    * standard 3-level list layout — readable by spark.read and
    * [[readRows]] alike (DriverParquetSpec pins both). The file is
    * written HIDDEN (`.part-*.tmp`) and renamed into place, so a crash
    * mid-write leaves only residue every parquet reader ignores —
    * no weaker than the Spark writer's _temporary staging. `overwrite`
    * clears the directory first (the `mode("overwrite")` it replaces). */
  def writeRows(spark: SparkSession, path: String, schema: StructType,
                rows: Seq[Row], overwrite: Boolean = true): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    if (overwrite && fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(dir)
    val message = new org.apache.parquet.schema.MessageType("spark_schema",
      schema.fields.map(f => parquetType(f.name, f.dataType, path)): _*)
    val name = s"part-${java.util.UUID.randomUUID().toString}.parquet"
    val tmp = new Path(dir, s".$name.tmp")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf)
      .withType(message)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      val factory = new org.apache.parquet.example.data.simple.SimpleGroupFactory(message)
      rows.foreach { r =>
        val g = factory.newGroup()
        var i = 0
        while (i < schema.fields.length) {
          if (!r.isNullAt(i))
            addValue(g, schema.fields(i).name, schema.fields(i).dataType, r.get(i))
          i += 1
        }
        writer.write(g)
      }
    } finally writer.close()
    require(fs.rename(tmp, new Path(dir, name)),
      s"[DriverParquet] rename failed for $tmp")
  }

  private def parquetType(name: String, dt: DataType, ctx: String): Type = {
    import org.apache.parquet.schema.Types
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    dt match {
      case IntegerType => Types.optional(PrimitiveTypeName.INT32).named(name)
      case LongType    => Types.optional(PrimitiveTypeName.INT64).named(name)
      case FloatType   => Types.optional(PrimitiveTypeName.FLOAT).named(name)
      case DoubleType  => Types.optional(PrimitiveTypeName.DOUBLE).named(name)
      case BooleanType => Types.optional(PrimitiveTypeName.BOOLEAN).named(name)
      case StringType  => Types.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named(name)
      case ArrayType(elem, _) =>
        Types.optionalList()
          .setElementType(parquetType("element", elem, ctx)).named(name)
      case other => throw new IllegalArgumentException(
        s"[DriverParquet] unsupported write type $other (field $name, $ctx)")
    }
  }

  private def addValue(g: Group, name: String, dt: DataType, v: Any): Unit =
    dt match {
      case IntegerType => g.add(name, v.asInstanceOf[Int])
      case LongType    => g.add(name, v.asInstanceOf[Long])
      case FloatType   => g.add(name, v.asInstanceOf[Float])
      case DoubleType  => g.add(name, v.asInstanceOf[Double])
      case BooleanType => g.add(name, v.asInstanceOf[Boolean])
      case StringType  => g.add(name, v.asInstanceOf[String])
      case ArrayType(elem, _) =>
        val listG = g.addGroup(name)
        v.asInstanceOf[scala.collection.Seq[Any]].foreach { e =>
          val bag = listG.addGroup("list")
          if (e != null) addValue(bag, "element", elem, e)
        }
      case other => throw new IllegalArgumentException(
        s"[DriverParquet] unsupported write type $other (field $name)")
    }

  private def isList(t: Type): Boolean = !t.isPrimitive &&
    t.getLogicalTypeAnnotation == LogicalTypeAnnotation.listType()

  private def sparkType(t: Type, ctx: String): DataType =
    if (t.isPrimitive) {
      val p = t.asPrimitiveType()
      p.getPrimitiveTypeName match {
        case INT32   => IntegerType
        case INT64   => LongType
        case FLOAT   => FloatType
        case DOUBLE  => DoubleType
        case BOOLEAN => BooleanType
        case BINARY if p.getLogicalTypeAnnotation ==
          LogicalTypeAnnotation.stringType() => StringType
        case other => throw new IllegalArgumentException(
          s"[DriverParquet] unsupported primitive $other (field ${t.getName}, $ctx)")
      }
    } else if (isList(t)) {
      // Spark's 3-level list: optional group f (LIST) {
      //   repeated group list { optional T element } }
      val elem = t.asGroupType().getType(0).asGroupType().getType(0)
      ArrayType(sparkType(elem, ctx), containsNull = true)
    } else throw new IllegalArgumentException(
      s"[DriverParquet] unsupported group field ${t.getName} ($ctx)")

  /** Value of `parent`'s field `fieldIdx` occurrence `valueIdx` —
    * matching Spark's collect() representation (arrays as Seq). */
  private def readValue(parent: Group, fieldIdx: Int, valueIdx: Int,
                        t: Type, ctx: String): Any =
    if (t.isPrimitive) {
      val p = t.asPrimitiveType()
      p.getPrimitiveTypeName match {
        case INT32   => parent.getInteger(fieldIdx, valueIdx)
        case INT64   => parent.getLong(fieldIdx, valueIdx)
        case FLOAT   => parent.getFloat(fieldIdx, valueIdx)
        case DOUBLE  => parent.getDouble(fieldIdx, valueIdx)
        case BOOLEAN => parent.getBoolean(fieldIdx, valueIdx)
        case BINARY if p.getLogicalTypeAnnotation ==
          LogicalTypeAnnotation.stringType() =>
          parent.getString(fieldIdx, valueIdx)
        case other => throw new IllegalArgumentException(
          s"[DriverParquet] unsupported primitive $other (field ${t.getName}, $ctx)")
      }
    } else {
      val listG = parent.getGroup(fieldIdx, valueIdx)
      val elemType = t.asGroupType().getType(0).asGroupType().getType(0)
      val n = listG.getFieldRepetitionCount(0)
      val out = new Array[Any](n)
      var j = 0
      while (j < n) {
        val bag = listG.getGroup(0, j)
        out(j) =
          if (bag.getFieldRepetitionCount(0) == 0) null
          else readValue(bag, 0, 0, elemType, ctx)
        j += 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }
}
