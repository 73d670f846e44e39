package graft

/** Parser for the reference's golden `.test` workload files
  * (`testdata/workloads/...`, format per
  * `tests/common/impala_test_suite.py`): `====`-delimited sections,
  * each with a `---- QUERY` block of Impala SQL and further
  * `---- <SECTION>` blocks (RESULTS, TYPES, LINEAGE, …). LineageSpec
  * reads `lineage.test` with it.
  */
object GoldenTest {

  /** One QUERY section of a `.test` file: the query text and every
    * section's lines by name.
    */
  final case class Case(query: String, sections: Map[String, Seq[String]])

  private val sectionRe = """^----\s*([A-Z_]+)\s*(.*)$""".r

  /** Parse the `.test` format. Comment lines (`#`) inside the QUERY
    * block are dropped. A section header repeated inside one `====`
    * block overwrites the earlier one, as the reference parser's dict
    * does (`test_file_parser.py parsed_sections[name] = str`).
    */
  def parse(text: String): Seq[Case] =
    text.split("(?m)^====\\s*$").toSeq.flatMap { section =>
      var cur: String = null
      val blocks = scala.collection.mutable.Map.empty[String, Vector[String]]
      section.linesIterator.foreach {
        case sectionRe(name, _) =>
          cur = name
          blocks(cur) = Vector.empty
        case l if cur != null =>
          blocks(cur) = blocks(cur) :+ l
        case _ =>
      }
      val query = blocks.getOrElse("QUERY", Vector.empty)
        .filterNot(_.trim.startsWith("#")).mkString("\n").trim
      if (query.isEmpty) None
      else Some(Case(query, blocks.toMap))
    }
}
