package graft.server

/** One SQL statement as the server routes it: its [[Statement.Kind]] and
  * its text. The text drops leading and trailing whitespace, comments
  * and `;`; comments inside it stay (Spark reads `/*+ … */` hints). The
  * kind comes from the first one or two code keywords, read past
  * comments with [[SqlLexer]], so `/* app */ insert …` is an INSERT and
  * `(select 1)` a query — as DuckDB's parser, which the reference
  * forwards every statement to, sees them.
  *
  * This is the one place that reads a statement's head: Engine dispatches
  * its handlers by the kind, and the PG and CH frontends decide by it
  * whether a statement returns rows. */
final case class Statement(kind: Statement.Kind, text: String)

object Statement {
  /** What a statement is: the command tag it completes with (handlers
    * may answer a more specific one, e.g. `CREATE INDEX`), whether it
    * returns rows, whether it moves the DDL epoch the catalog views
    * follow, and whether it is transaction control. */
  sealed abstract class Kind(val tag: String, val returnsRows: Boolean = false,
      val isDdl: Boolean = false, val isTxnControl: Boolean = false)
  sealed abstract class RowKind extends Kind("SELECT", returnsRows = true)

  /** Only whitespace, comments and `;`. */
  case object Empty extends Kind("EMPTY")
  /** SELECT, WITH, VALUES, TABLE, FROM-first, or a bracketed query. */
  case object Query extends RowKind
  case object Show extends RowKind
  case object Describe extends RowKind
  case object Explain extends RowKind
  /** Statement-level PIVOT / UNPIVOT. */
  case object Pivot extends RowKind
  case object Summarize extends RowKind
  case object Insert extends Kind("INSERT")
  case object Update extends Kind("UPDATE")
  case object Delete extends Kind("DELETE")
  case object Create extends Kind("CREATE", isDdl = true)
  case object Drop extends Kind("DROP", isDdl = true)
  case object Alter extends Kind("ALTER", isDdl = true)
  case object Begin extends Kind("BEGIN", isTxnControl = true)
  case object StartTransaction extends Kind("START TRANSACTION", isTxnControl = true)
  case object Commit extends Kind("COMMIT", isTxnControl = true)
  case object Rollback extends Kind("ROLLBACK", isTxnControl = true)
  case object Truncate extends Kind("TRUNCATE")
  case object Copy extends Kind("COPY")
  case object Prepare extends Kind("PREPARE")
  case object Execute extends Kind("EXECUTE")
  case object Deallocate extends Kind("DEALLOCATE")
  case object Set extends Kind("SET")
  case object Reset extends Kind("RESET")
  case object Discard extends Kind("DISCARD")
  case object Export extends Kind("EXPORT")
  case object Import extends Kind("IMPORT")
  case object Pragma extends Kind("PRAGMA")
  case object Checkpoint extends Kind("CHECKPOINT")
  case object Vacuum extends Kind("VACUUM")
  case object Analyze extends Kind("ANALYZE")
  /** ATTACH / DETACH. */
  case object Attach extends Kind("ATTACH")
  /** PG cursors: DECLARE … CURSOR, FETCH, CLOSE. */
  case object Declare extends Kind("DECLARE")
  case object Fetch extends Kind("FETCH")
  case object Close extends Kind("CLOSE")
  /** Any other statement (USE, REFRESH, …); the tag is its first word. */
  final case class Other(verb: String) extends Kind(verb)

  /** Kinds by first keyword. START and FORCE are read with their second:
    * START TRANSACTION, FORCE CHECKPOINT. */
  private val byHead: Map[String, Kind] = Map(
    "select" -> Query, "with" -> Query, "values" -> Query, "table" -> Query,
    "from" -> Query, "show" -> Show, "describe" -> Describe, "desc" -> Describe,
    "explain" -> Explain, "pivot" -> Pivot, "unpivot" -> Pivot, "summarize" -> Summarize,
    "insert" -> Insert, "update" -> Update, "delete" -> Delete, "create" -> Create,
    "drop" -> Drop, "alter" -> Alter, "begin" -> Begin, "commit" -> Commit,
    "end" -> Commit, "rollback" -> Rollback, "truncate" -> Truncate, "copy" -> Copy,
    "prepare" -> Prepare, "execute" -> Execute, "deallocate" -> Deallocate, "set" -> Set,
    "reset" -> Reset, "discard" -> Discard, "export" -> Export, "import" -> Import,
    "pragma" -> Pragma, "checkpoint" -> Checkpoint, "vacuum" -> Vacuum,
    "analyze" -> Analyze, "attach" -> Attach, "detach" -> Attach, "declare" -> Declare,
    "fetch" -> Fetch, "close" -> Close)

  /** Classify `sql`: strip its ends, then read its head. */
  def apply(sql: String): Statement = {
    val text = strip(sql)
    Statement(kindOf(text), text)
  }

  private def isComment(sql: String, i: Int): Boolean =
    sql.startsWith("--", i) || sql.startsWith("/*", i)

  /** `sql` from its first to its last character that is neither
    * whitespace, `;` nor inside a comment. */
  private def strip(sql: String): String = {
    var start = -1
    var end = 0
    var i = 0
    while (i < sql.length) {
      val e = SqlLexer.skip(sql, i)
      if (e > i) {
        if (!isComment(sql, i)) { if (start < 0) start = i; end = e }
        i = e
      } else {
        val c = sql.charAt(i)
        if (!c.isWhitespace && c != ';') { if (start < 0) start = i; end = i + 1 }
        i += 1
      }
    }
    if (start < 0) "" else sql.substring(start, end)
  }

  /** The lower-cased word at the first code character at or after
    * `from` (comments skipped), and the index after it; "" when no
    * word starts there. */
  private def wordAt(text: String, from: Int): (String, Int) = {
    var i = from
    while (i < text.length && (text.charAt(i).isWhitespace || isComment(text, i)))
      i = if (isComment(text, i)) SqlLexer.skip(text, i) else i + 1
    var j = i
    while (j < text.length && (text.charAt(j).isLetterOrDigit || text.charAt(j) == '_')) j += 1
    (text.substring(i, j).toLowerCase, j)
  }

  private def kindOf(text: String): Kind = {
    if (text.isEmpty) return Empty
    if (text.charAt(0) == '(') return Query
    val (head, end) = wordAt(text, 0)
    (head, wordAt(text, end)._1) match {
      case ("start", "transaction") => StartTransaction
      case ("force", "checkpoint") => Checkpoint
      case _ => byHead.getOrElse(head, Other(head.toUpperCase))
    }
  }
}
