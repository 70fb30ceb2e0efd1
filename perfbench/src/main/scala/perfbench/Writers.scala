package perfbench

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Raw-file writers for the AFG source formats: BIFF8-in-CFB `.xls`,
  * OOXML `.xlsx`, ESRI `.shp` polygons and dBase `.dbf` attributes.
  * Same encodings as the fixture writers of the engine's source specs
  * (XlsSourceSpec, GeoSourceSpec), which test code cannot share. */
object Writers {

  // ----------------------------------------------------------------- xls

  private def rec(op: Int, body: Array[Byte]): Array[Byte] = {
    val out = ByteBuffer.allocate(4 + body.length).order(ByteOrder.LITTLE_ENDIAN)
    out.putShort(op.toShort).putShort(body.length.toShort).put(body)
    out.array()
  }

  private def bof(docType: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    b.putShort(0x0600.toShort).putShort(docType.toShort)
      .putShort(0x0DBB.toShort).putShort(0x07CC.toShort).putInt(0).putInt(0)
    rec(0x0809, b.array())
  }

  /** Cells: (row, col, value); String → LABELSST, Double → NUMBER,
    * Int → RK. */
  private def biffStream(sheets: Seq[(String, Seq[(Int, Int, Any)])]): Array[Byte] = {
    val sstStrings = sheets.flatMap(_._2).collect { case (_, _, s: String) => s }.distinct
    val sstIndex = sstStrings.zipWithIndex.toMap

    def sheetBytes(cells: Seq[(Int, Int, Any)]): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      out.write(bof(0x0010))
      cells.foreach { case (row, col, v) =>
        val head = ByteBuffer.allocate(6).order(ByteOrder.LITTLE_ENDIAN)
        head.putShort(row.toShort).putShort(col.toShort).putShort(0)
        v match {
          case s: String =>
            val b = ByteBuffer.allocate(10).order(ByteOrder.LITTLE_ENDIAN)
            b.put(head.array()).putInt(sstIndex(s))
            out.write(rec(0x00FD, b.array()))
          case d: Double =>
            val b = ByteBuffer.allocate(14).order(ByteOrder.LITTLE_ENDIAN)
            b.put(head.array()).putDouble(d)
            out.write(rec(0x0203, b.array()))
          case i: Int =>
            val b = ByteBuffer.allocate(10).order(ByteOrder.LITTLE_ENDIAN)
            b.put(head.array()).putInt((i << 2) | 2)
            out.write(rec(0x027E, b.array()))
          case other => throw new IllegalArgumentException(s"unsupported xls cell $other")
        }
      }
      out.write(rec(0x000A, Array.empty))
      out.toByteArray
    }
    val sheetBodies = sheets.map(s => sheetBytes(s._2))

    def boundsheet(name: String, pos: Int): Array[Byte] = {
      val nb = name.getBytes("ISO-8859-1")
      val b = ByteBuffer.allocate(8 + nb.length).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(pos).put(0.toByte).put(0.toByte).put(nb.length.toByte).put(0.toByte).put(nb)
      rec(0x0085, b.array())
    }
    def sstRec: Array[Byte] = {
      val body = new ByteArrayOutputStream()
      val h = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      h.putInt(sstStrings.length).putInt(sstStrings.length)
      body.write(h.array())
      sstStrings.foreach { s =>
        val nb = s.getBytes("ISO-8859-1")
        val b = ByteBuffer.allocate(3 + nb.length).order(ByteOrder.LITTLE_ENDIAN)
        b.putShort(s.length.toShort).put(0.toByte).put(nb)
        body.write(b.array())
      }
      rec(0x00FC, body.toByteArray)
    }
    // the globals carry each sheet's BOF offset: lay out once with
    // zeros to measure, then again with the real positions
    def globals(positions: Seq[Int]): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      out.write(bof(0x0005))
      sheets.zip(positions).foreach { case ((name, _), pos) => out.write(boundsheet(name, pos)) }
      out.write(sstRec)
      out.write(rec(0x000A, Array.empty))
      out.toByteArray
    }
    val globalsLen = globals(sheets.map(_ => 0)).length
    val positions = sheetBodies.scanLeft(globalsLen)(_ + _.length).dropRight(1)
    val out = new ByteArrayOutputStream()
    out.write(globals(positions))
    sheetBodies.foreach(out.write)
    out.toByteArray
  }

  private val Free = 0xFFFFFFFF
  private val EndOfChain = 0xFFFFFFFE
  private val FatSect = 0xFFFFFFFD

  /** Single-stream CFB container: mini-stream layout below Excel's
    * 4096-byte cutoff, main-FAT layout above it (one FAT sector, so
    * streams up to ~63 KB). */
  private def writeCfb(path: String, streamName: String, stream: Array[Byte]): Unit = {
    val mini = stream.length < 4096
    val nW = (stream.length + 511) / 512
    val nMini = (stream.length + 63) / 64
    val nContainer = (nMini * 64 + 511) / 512
    val nSectors = if (mini) 2 + 1 + nContainer else 2 + nW
    require(nSectors <= 128, s"xls stream of ${stream.length} bytes needs more than one FAT sector")

    val fat = Array.fill(128)(Free)
    fat(0) = FatSect
    fat(1) = EndOfChain
    if (mini) {
      fat(2) = EndOfChain
      for (i <- 0 until nContainer) fat(3 + i) = if (i == nContainer - 1) EndOfChain else 3 + i + 1
    } else {
      for (i <- 0 until nW) fat(2 + i) = if (i == nW - 1) EndOfChain else 2 + i + 1
    }

    def dirEntry(name: String, etype: Int, child: Int, start: Int, size: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(128).order(ByteOrder.LITTLE_ENDIAN)
      val nm = name.getBytes("UTF-16LE")
      b.put(nm)
      b.position(64)
      b.putShort((nm.length + 2).toShort)
      b.put(etype.toByte).put(1.toByte)
      b.putInt(Free).putInt(Free).putInt(child)
      b.position(116)
      b.putInt(start).putInt(size).putInt(0)
      b.array()
    }

    val buf = ByteBuffer.allocate(512 + nSectors * 512).order(ByteOrder.LITTLE_ENDIAN)
    buf.putLong(0xE11AB1A1E011CFD0L)
    buf.position(24)
    buf.putShort(0x003E.toShort).putShort(0x0003.toShort)
    buf.putShort(0xFFFE.toShort)
    buf.putShort(9.toShort).putShort(6.toShort)
    buf.position(44)
    buf.putInt(1)
    buf.putInt(1)
    buf.position(56)
    buf.putInt(4096)
    buf.putInt(if (mini) 2 else EndOfChain)
    buf.putInt(if (mini) 1 else 0)
    buf.putInt(EndOfChain).putInt(0)
    buf.putInt(0)
    for (_ <- 1 until 109) buf.putInt(Free)
    fat.foreach(buf.putInt)
    buf.put(dirEntry("Root Entry", 5, child = 1,
      start = if (mini) 3 else EndOfChain, size = if (mini) nMini * 64 else 0))
    buf.put(dirEntry(streamName, 2, child = Free, start = if (mini) 0 else 2, size = stream.length))
    buf.put(new Array[Byte](256))
    if (mini) {
      val mfat = Array.fill(128)(Free)
      for (i <- 0 until nMini) mfat(i) = if (i == nMini - 1) EndOfChain else i + 1
      mfat.foreach(buf.putInt)
      buf.put(java.util.Arrays.copyOf(stream, nContainer * 512))
    } else {
      buf.put(java.util.Arrays.copyOf(stream, nW * 512))
    }
    Files.write(Paths.get(path), buf.array())
  }

  def writeXls(path: String, sheets: Seq[(String, Seq[(Int, Int, Any)])]): Unit =
    writeCfb(path, "Workbook", biffStream(sheets))

  // ---------------------------------------------------------------- xlsx

  /** Minimal OOXML workbook: every cell is a shared string (String) or
    * a number (Double/Int). */
  def writeXlsx(path: String, sheets: Seq[(String, Seq[Seq[Any]])]): Unit = {
    val strings = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def sid(s: String): Int = strings.getOrElseUpdate(s, strings.size)
    def colRef(i: Int): String =
      if (i < 26) ('A' + i).toChar.toString
      else ('A' + i / 26 - 1).toChar.toString + ('A' + i % 26).toChar
    val rendered = sheets.map { case (_, rows) =>
      rows.zipWithIndex.map { case (row, r) =>
        val cells = row.zipWithIndex.collect {
          case (v: String, c) => s"""<c r="${colRef(c)}${r + 1}" t="s"><v>${sid(v)}</v></c>"""
          case (v: Int, c)    => s"""<c r="${colRef(c)}${r + 1}"><v>$v</v></c>"""
          case (v: Double, c) => s"""<c r="${colRef(c)}${r + 1}"><v>$v</v></c>"""
        }
        s"""<row r="${r + 1}">${cells.mkString}</row>"""
      }.mkString
    }
    val zos = new ZipOutputStream(new FileOutputStream(path))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    val sheetTags = sheets.zipWithIndex.map { case ((name, _), i) =>
      s"""<sheet name="$name" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString
    entry("xl/workbook.xml",
      s"""<?xml version="1.0"?><workbook
         | xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
         | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
         |<sheets>$sheetTags</sheets></workbook>""".stripMargin)
    val rels = sheets.indices.map { i =>
      s"""<Relationship Id="rId${i + 1}"
         | Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet"
         | Target="worksheets/sheet${i + 1}.xml"/>""".stripMargin
    }.mkString
    entry("xl/_rels/workbook.xml.rels",
      s"""<?xml version="1.0"?><Relationships
         | xmlns="http://schemas.openxmlformats.org/package/2006/relationships">$rels</Relationships>""".stripMargin)
    entry("xl/sharedStrings.xml",
      s"""<?xml version="1.0"?><sst
         | xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">${
        strings.keys.map(s => s"<si><t>$s</t></si>").mkString}</sst>""".stripMargin)
    rendered.zipWithIndex.foreach { case (body, i) =>
      entry(s"xl/worksheets/sheet${i + 1}.xml",
        s"""<?xml version="1.0"?><worksheet
           | xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
           |<sheetData>$body</sheetData></worksheet>""".stripMargin)
    }
    zos.close()
  }

  // ----------------------------------------------------------------- shp

  /** Single-ring polygons (shape type 5); each ring must be closed. */
  def writeShp(path: String, polys: Seq[Seq[(Double, Double)]]): Unit = {
    val bodies = polys.map { ring =>
      val n = ring.length
      val content = ByteBuffer.allocate(4 + 32 + 8 + 4 + 16 * n).order(ByteOrder.LITTLE_ENDIAN)
      content.putInt(5)
      content.putDouble(ring.map(_._1).min).putDouble(ring.map(_._2).min)
      content.putDouble(ring.map(_._1).max).putDouble(ring.map(_._2).max)
      content.putInt(1).putInt(n)
      content.putInt(0)
      ring.foreach { case (x, y) => content.putDouble(x).putDouble(y) }
      content.array()
    }
    val fileLen = 100 + bodies.map(8 + _.length).sum
    val buf = ByteBuffer.allocate(fileLen)
    buf.order(ByteOrder.BIG_ENDIAN)
    buf.putInt(9994).putInt(0).putInt(0).putInt(0).putInt(0).putInt(0)
    buf.putInt(fileLen / 2)
    buf.order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(1000).putInt(5)
    for (_ <- 0 until 8) buf.putDouble(0.0)
    bodies.zipWithIndex.foreach { case (b, i) =>
      buf.order(ByteOrder.BIG_ENDIAN)
      buf.putInt(i + 1).putInt(b.length / 2)
      buf.order(ByteOrder.LITTLE_ENDIAN)
      buf.put(b)
    }
    Files.write(Paths.get(path), buf.array())
  }

  // ----------------------------------------------------------------- dbf

  /** dBase III table; fields are (name, type, length, decimals). */
  def writeDbf(path: String, fields: Seq[(String, Char, Int, Int)], rows: Seq[Seq[String]]): Unit = {
    val out = new ByteArrayOutputStream()
    val recordLen = 1 + fields.map(_._3).sum
    val headerLen = 32 + fields.size * 32 + 1
    val header = new Array[Byte](32)
    header(0) = 0x03
    header(4) = (rows.size & 0xff).toByte
    header(5) = ((rows.size >> 8) & 0xff).toByte
    header(8) = (headerLen & 0xff).toByte
    header(9) = ((headerLen >> 8) & 0xff).toByte
    header(10) = (recordLen & 0xff).toByte
    header(11) = ((recordLen >> 8) & 0xff).toByte
    out.write(header)
    fields.foreach { case (name, ftype, len, dec) =>
      val fd = new Array[Byte](32)
      val nb = name.getBytes("US-ASCII")
      System.arraycopy(nb, 0, fd, 0, math.min(nb.length, 10))
      fd(11) = ftype.toByte
      fd(16) = len.toByte
      fd(17) = dec.toByte
      out.write(fd)
    }
    out.write(0x0d)
    rows.foreach { r =>
      out.write(' ')
      r.zip(fields).foreach { case (v, (_, _, len, _)) =>
        out.write(v.padTo(len, ' ').take(len).getBytes("US-ASCII"))
      }
    }
    out.write(0x1a)
    Files.write(Paths.get(path), out.toByteArray)
  }
}
