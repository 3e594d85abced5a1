package graft.tools

import java.nio.file.{Files, Path}

/** Synthetic XML bench corpus of [[graft.Bench]] (2000 docs, part of
  * the per-round bench line). Each file carries 12 identified nodes and
  * ~40 attributes. */
object BenchCorpus {
  def generate(nDocs: Int): Path = {
    val dir = Files.createTempDirectory("graft-bench-xml")
    (0 until nDocs).foreach { i =>
      val items = (0 until 10).map { j =>
        s"""<item id="it_${i}_$j" idx="$j" ref="sec_$i" score="$j.5" active="${j % 2 == 0}">payload $i $j</item>"""
      }.mkString("\n")
      val xml =
        s"""<?xml version="1.0"?>
           |<doc id="doc_$i"><section id="sec_$i" kind="bench">
           |$items
           |</section></doc>""".stripMargin
      Files.write(dir.resolve(f"bench_$i%05d.xml"), xml.getBytes("UTF-8"))
    }
    dir
  }
}
