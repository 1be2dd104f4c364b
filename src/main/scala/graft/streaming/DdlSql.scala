package graft.streaming

/** MySQL-dialect DDL parsed from RAW `QueryEvent` SQL text.
  *
  * A real binlog does not ship structured DDL verbs — it ships the
  * statement text the client ran (`ALTER TABLE orders ADD COLUMN note
  * VARCHAR(32) DEFAULT 'none'`) as a QueryEvent at a binlog position.
  * Every DDL behavior in this engine already exists as a structured
  * declaration ([[PassSpec]]'s `ddl`: `renames` / `defaults` /
  * `drops` / `truncateAt`,
  * `graft.Replication.renameTables`); this object is the missing
  * mapping from the wire text onto those verbs, so a binlog feed
  * survives DDL without an operator translating statements by hand.
  *
  * Dialect subset (the verbs the engine has semantics for):
  *
  *  - `ALTER TABLE t ADD [COLUMN] c <type> [NOT NULL|NULL]
  *    [DEFAULT <literal>] [FIRST|AFTER col]` — with a DEFAULT this is
  *    the lazy-backfill verb ([[StreamingOps.ColumnDefault]]); without
  *    one the open envelope absorbs the add (union at schema publish).
  *  - `ALTER TABLE t DROP [COLUMN] c`
  *  - `ALTER TABLE t RENAME COLUMN a TO b`
  *  - `ALTER TABLE t CHANGE [COLUMN] a b <type>` — rename (+ type
  *    change riding the envelope schema; same name = pure MODIFY)
  *  - `ALTER TABLE t MODIFY [COLUMN] c <type>` — the type change
  *    itself arrives via the resumed pass's envelope schema, where the
  *    widening guardrail validates it; the parser recognizes the verb
  *    so a MODIFY-bearing statement doesn't refuse
  *  - `ALTER TABLE t RENAME [TO|AS] u` and
  *    `RENAME TABLE a TO b[, c TO d]` — table renames
  *    ([[graft.Replication.renameTables]]'s journaled swap)
  *  - `TRUNCATE [TABLE] t`
  *  - `ADD/DROP INDEX|KEY` (and UNIQUE/FULLTEXT/SPATIAL variants) —
  *    recognized and deliberately inert: secondary indexes are a
  *    source-side physical concern with no envelope effect
  *
  * Everything else REFUSES loudly naming the statement — a PRIMARY KEY
  * change alters replication identity (keyCols), a partition clause
  * alters physical layout, and silently skipping either would corrupt
  * the replica in exactly the way this engine's refusal discipline
  * exists to prevent. Parsing is a driver-side, O(statement) tokenizer;
  * nothing here touches data. */
object DdlSql {

  sealed trait Statement { def table: String }
  /** `default` is the literal normalized to a Spark-SQL expression
    * string (single-quoted text, bare numerals, NULL/TRUE/FALSE). */
  final case class AddColumn(table: String, column: String,
      sqlType: String, default: Option[String]) extends Statement
  final case class DropColumn(table: String, column: String)
      extends Statement
  final case class RenameColumn(table: String, from: String, to: String)
      extends Statement
  /** Type change only — the new type arrives with the resumed pass's
    * envelope schema; [[StreamingOps]]'s widening guardrail is the
    * enforcement point, not the parser. */
  final case class ModifyColumn(table: String, column: String,
      sqlType: String) extends Statement
  final case class TruncateTable(table: String) extends Statement
  final case class RenameTable(renames: Seq[(String, String)])
      extends Statement { def table: String = renames.head._1 }
  /** TABLE LIFECYCLE: a parsed `CREATE TABLE` — the statement a real
    * replication feed sees when a new table appears mid-stream.
    * `columns` are (name, MySQL type text) in declaration order;
    * `keyCols` is the PRIMARY KEY (inline `col … PRIMARY KEY` and the
    * table-constraint form both land here). The fold records it in
    * [[DdlConfig.createTables]]; the TOPOLOGY layer
    * ([[graft.Replication.applyTableLifecycle]]) turns it into a
    * destination bootstrap + a new state dir — a single-table pass
    * cannot absorb it and refuses, as before. A CREATE whose body the
    * dialect cannot parse degrades to [[Unsupported]], so out-of-scope
    * exotic CREATEs stay skippable noise while in-scope ones refuse. */
  final case class CreateTable(table: String,
      columns: Seq[(String, String)], keyCols: Seq[String])
      extends Statement
  /** TABLE LIFECYCLE: a parsed `DROP TABLE` for one table (a DROP
    * list yields one statement per table). Fold records it in
    * [[DdlConfig.dropTables]]; the topology layer retires the state
    * dir via the journaled rename protocol. */
  final case class DropTable(table: String) extends Statement
  /** Recognized verb with no envelope effect (secondary index DDL). */
  final case class Inert(table: String, clause: String) extends Statement
  /** A table-level verb OUTSIDE the dialect (OPTIMIZE/ANALYZE noise
    * aside — those are Inert — e.g. CREATE TABLE … LIKE/AS SELECT, or
    * CREATE/DROP of a non-table object), parsed far enough to NAME its
    * table: a scoped fold skips other tables' routine noise (every
    * real binlog interleaves the whole topology's DDL), while an
    * in-scope one still refuses loudly at fold — a statement the
    * dialect cannot map for the replicated table itself must never
    * silently drop. */
  final case class Unsupported(table: String, verb: String)
      extends Statement

  /** The structured configuration one resumed pass takes — the fold of
    * every QueryEvent in the gap between two passes. Feed the fields
    * straight into a [[PassSpec]]'s `ddl`; apply `tableRenames`
    * BEFORE the pass via [[graft.Replication.renameTables]] (they
    * rebind state dirs, not columns). */
  final case class DdlConfig(
      renameCols: Map[String, String] = Map.empty,
      dropCols: Map[String, Long] = Map.empty,
      defaultCols: Map[String, StreamingOps.ColumnDefault] = Map.empty,
      truncateAtSeq: Option[Long] = None,
      tableRenames: Seq[(String, String)] = Nil,
      /** In-scope CREATE TABLE statements, in position order. Like
        * `tableRenames`, these are NOT a column-level pass's business:
        * a pass consuming the config must refuse them and direct the
        * operator to [[graft.Replication.applyTableLifecycle]], which
        * bootstraps the destination and opens the state dir BEFORE the
        * pass runs. */
      createTables: Seq[(Long, CreateTable)] = Nil,
      /** In-scope DROP TABLE statements, (position, table), in position
        * order — same contract as `createTables`: the topology layer
        * retires the dir; a column-level pass refuses. */
      dropTables: Seq[(Long, String)] = Nil,
      /** In-scope MODIFY/CHANGE type declarations for PUBLISHED columns:
        * column → (position, declared MySQL type text). The type change
        * itself still arrives with the resumed pass's envelope schema —
        * but the consuming pass checks these declarations against the
        * published schema FIRST, so a NARROWING or cross-family modify
        * refuses at the gate naming the statement (MySQL rewrites —
        * truncates — source data on a narrowing MODIFY; a replica that
        * kept serving wide values for untouched keys would silently
        * diverge), instead of surfacing later as an envelope-layer
        * type-change error with no statement to point at. Gap-born
        * columns' modifies are not recorded — there is no published
        * type to narrow. */
      modifyCols: Map[String, (Long, String)] = Map.empty)

  // ---------------------------------------------------------------
  // tokenizer: whitespace-split with backtick idents, quoted strings
  // ('' / "" escapes), and ( ) , . as single-char tokens — regexes
  // cannot carry a DEFAULT literal containing a comma safely
  // ---------------------------------------------------------------
  private def fail(sql: String, why: String): Nothing =
    throw new IllegalArgumentException(
      s"cannot parse DDL statement: $why — in: $sql")

  private def tokenize(sql: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    val n = sql.length
    while (i < n) {
      val c = sql.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '`') {
        val j = sql.indexOf('`', i + 1)
        if (j < 0) fail(sql, "unterminated backtick identifier")
        out += (" I" + sql.substring(i + 1, j)) // marked ident
        i = j + 1
      } else if (c == '\'' || c == '"') {
        val sb = new StringBuilder
        var j = i + 1
        var closed = false
        while (j < n && !closed) {
          val d = sql.charAt(j)
          if (d == c && j + 1 < n && sql.charAt(j + 1) == c) {
            sb.append(c); j += 2 // doubled-quote escape
          } else if (d == c) { closed = true; j += 1 }
          else { sb.append(d); j += 1 }
        }
        if (!closed) fail(sql, "unterminated string literal")
        out += (" S" + sb.result()) // marked string literal
        i = j
      } else if (c.isDigit ||
        ((c == '-' || c == '+' || c == '.') && i + 1 < n &&
          sql.charAt(i + 1).isDigit)) {
        // numeric literal — scanned whole so a decimal point is never
        // confused with the qualifier dot of `db`.`t`
        var j = if (c == '-' || c == '+') i + 1 else i
        while (j < n && (sql.charAt(j).isDigit || sql.charAt(j) == '.')) j += 1
        if (j < n && (sql.charAt(j) == 'e' || sql.charAt(j) == 'E')) {
          var k = j + 1
          if (k < n && (sql.charAt(k) == '-' || sql.charAt(k) == '+')) k += 1
          val k0 = k
          while (k < n && sql.charAt(k).isDigit) k += 1
          if (k > k0) j = k
        }
        out += sql.substring(i, j)
        i = j
      } else if (c == '(' || c == ')' || c == ',' || c == '.') {
        out += c.toString; i += 1
      } else {
        var j = i
        while (j < n && !sql.charAt(j).isWhitespace &&
          !"`'\"(),.".contains(sql.charAt(j))) j += 1
        out += sql.substring(i, j)
        i = j
      }
    }
    out.result()
  }

  private def isIdentTok(t: String): Boolean =
    t.startsWith(" I") ||
      (!t.startsWith(" ") && t.nonEmpty &&
        (t.charAt(0).isLetter || t.charAt(0) == '_') &&
        t.forall(ch => ch.isLetterOrDigit || ch == '_' || ch == '$'))

  private def identOf(t: String): String =
    if (t.startsWith(" I")) t.substring(2) else t

  private def kw(t: String, k: String): Boolean =
    !t.startsWith(" ") && t.equalsIgnoreCase(k)

  /** Render a token back to statement-ish text for error messages. */
  private def show(t: String): String =
    if (t.startsWith(" I")) s"`${t.substring(2)}`"
    else if (t.startsWith(" S")) s"'${t.substring(2)}'"
    else t

  // a cursor over the token vector
  private final class Cur(val toks: Vector[String], val sql: String) {
    var i = 0
    def more: Boolean = i < toks.length
    def peek: String = if (more) toks(i) else ""
    def next(): String = { val t = peek; i += 1; t }
    def expectKw(k: String): Unit =
      if (!kw(next(), k)) fail(sql, s"expected $k")
    def takeKw(k: String): Boolean =
      if (more && kw(peek, k)) { i += 1; true } else false
    def ident(what: String): String = {
      val t = next()
      if (!isIdentTok(t)) fail(sql, s"expected $what, got ${show(t)}")
      identOf(t)
    }
    /** table name, db-qualifier stripped (`db`.`t` / db.t → t). */
    def tableName(): String = {
      var name = ident("table name")
      while (more && peek == ".") { i += 1; name = ident("table name") }
      name
    }
  }

  /** Parse ONE statement's text into its clause statements (an ALTER
    * with N comma-separated specs yields N). Refuses loudly on
    * anything outside the dialect subset. */
  def parse(sql: String): Seq[Statement] = {
    val stripped = sql.trim.stripSuffix(";").trim
    require(stripped.nonEmpty, "empty DDL statement")
    val c = new Cur(tokenize(stripped), stripped)
    val head = c.next()
    if (kw(head, "TRUNCATE")) {
      c.takeKw("TABLE")
      val t = c.tableName()
      if (c.more) fail(stripped, s"trailing tokens after TRUNCATE ${t}")
      Seq(TruncateTable(t))
    } else if (kw(head, "RENAME")) {
      c.expectKw("TABLE")
      val pairs = Seq.newBuilder[(String, String)]
      var go = true
      while (go) {
        val from = c.tableName()
        c.expectKw("TO")
        pairs += (from -> c.tableName())
        go = c.more && c.peek == ","
        if (go) c.i += 1
      }
      if (c.more) fail(stripped, "trailing tokens after RENAME TABLE list")
      Seq(RenameTable(pairs.result()))
    } else if (kw(head, "ALTER")) {
      if (c.more && !c.peek.startsWith(" ") &&
        nonTableObjects.contains(c.peek.toUpperCase)) {
        // ALTER of a non-table object — same scoping story as
        // CREATE/DROP of one
        val objKind = c.next().toUpperCase
        val name = if (c.more && isIdentTok(c.peek)) c.tableName()
          else "<none>"
        c.i = c.toks.length
        return Seq(Unsupported(name, s"ALTER $objKind"))
      }
      c.expectKw("TABLE")
      val table = c.tableName()
      val out = Seq.newBuilder[Statement]
      var go = true
      while (go) {
        out ++= parseAlterClause(c, table, stripped)
        go = c.more && c.peek == ","
        if (go) c.i += 1
      }
      if (c.more) fail(stripped, s"trailing tokens at ${show(c.peek)}")
      out.result()
    } else if (kw(head, "CREATE") || kw(head, "DROP") ||
      kw(head, "OPTIMIZE") || kw(head, "ANALYZE")) {
      // table-level verbs: CREATE/DROP TABLE are the LIFECYCLE pair
      // (parsed to structured statements — the topology layer maps
      // them); CREATE/DROP INDEX is the statement form of the inert
      // index clause; OPTIMIZE/ANALYZE are maintenance noise
      val verb = head.toUpperCase
      val temporary = c.takeKw("TEMPORARY")
      c.takeKw("NO_WRITE_TO_BINLOG"); c.takeKw("LOCAL")
      if ((kw(head, "CREATE") || kw(head, "DROP")) && {
        c.takeKw("UNIQUE"); c.takeKw("FULLTEXT"); c.takeKw("SPATIAL")
        c.takeKw("INDEX")
      }) {
        c.ident("index name")
        c.expectKw("ON")
        val t = c.tableName()
        c.i = c.toks.length // index column list / options — inert
        Seq(Inert(t, s"$verb INDEX"))
      } else if (c.takeKw("TABLE")) {
        if (c.takeKw("IF")) { c.takeKw("NOT"); c.expectKw("EXISTS") }
        val first = c.tableName()
        val tables = Seq.newBuilder[String]
        tables += first
        // DROP/OPTIMIZE/ANALYZE accept a table list; CREATE's next
        // token is its column list, never a second table
        while (c.more && c.peek == "," && !kw(head, "CREATE")) {
          c.i += 1; tables += c.tableName()
        }
        if (kw(head, "OPTIMIZE") || kw(head, "ANALYZE")) {
          // maintenance verbs: statistics refresh / defrag rebuild —
          // no schema or data semantics on the replica (the ALTER-form
          // ENGINE=InnoDB rebuild is inert for the same reason)
          c.i = c.toks.length
          tables.result().map(t => Inert(t, s"$verb TABLE"))
        } else if (temporary) {
          // TEMPORARY tables are session-local: their row changes never
          // enter the binlog under ROW format, so the lifecycle pair is
          // deliberately inert for them — in OR out of scope
          c.i = c.toks.length
          tables.result().map(t => Inert(t, s"$verb TEMPORARY TABLE"))
        } else if (kw(head, "DROP")) {
          // RESTRICT/CASCADE tails are parse noise (MySQL accepts and
          // ignores them)
          c.takeKw("RESTRICT"); c.takeKw("CASCADE")
          if (c.more) fail(stripped,
            s"trailing tokens after DROP TABLE list at ${show(c.peek)}")
          tables.result().map(DropTable)
        } else {
          // CREATE TABLE: parse the column body into a structured
          // CreateTable; a body outside the dialect (LIKE, AS SELECT,
          // exotic clauses) degrades to Unsupported so a scoped fold
          // can still skip it as a neighbor's noise
          try Seq(parseCreateBody(c, first, stripped))
          catch {
            case _: IllegalArgumentException =>
              c.i = c.toks.length
              Seq(Unsupported(first, "CREATE TABLE"))
          }
        }
      } else if (c.more && !c.peek.startsWith(" ") &&
        (kw(c.peek, "OR") ||
          nonTableObjects.contains(c.peek.toUpperCase))) {
        // CREATE [OR REPLACE]/DROP of a NON-TABLE object (view,
        // trigger, database, routine …): named so a scoped fold can
        // skip it as topology noise; unscoped it still refuses — the
        // caller declared no table to scope by, so nothing may
        // silently drop
        if (c.takeKw("OR")) c.expectKw("REPLACE")
        if (!c.more || c.peek.startsWith(" ") ||
          !nonTableObjects.contains(c.peek.toUpperCase))
          fail(stripped,
            s"unsupported statement verb '${show(head)} ${show(c.peek)}'")
        val objKind = c.next().toUpperCase
        if (c.takeKw("IF")) { c.takeKw("NOT"); c.expectKw("EXISTS") }
        val name = if (c.more && isIdentTok(c.peek)) c.tableName() else "<none>"
        c.i = c.toks.length
        Seq(Unsupported(name, s"$verb $objKind"))
      } else fail(stripped,
        s"unsupported statement verb '${show(head)} ${show(c.peek)}'")
    } else if (kw(head, "GRANT") || kw(head, "REVOKE") ||
      kw(head, "FLUSH")) {
      // privilege/session statements: no table semantics at all — a
      // scoped fold skips them (their '<none>' subject matches no
      // table filter); an unscoped fold still refuses loudly
      c.i = c.toks.length
      Seq(Unsupported("<none>", head.toUpperCase))
    } else fail(stripped,
      s"unsupported statement verb '${show(head)}' (supported: ALTER " +
        "TABLE, RENAME TABLE, TRUNCATE; CREATE/DROP/OPTIMIZE/ANALYZE " +
        "and GRANT/REVOKE/FLUSH parse for scoping and refuse at fold " +
        "when in scope)")
  }

  /** Non-table object kinds a CREATE/DROP may target — named for
    * scoping, never mapped. */
  private val nonTableObjects = Set("DATABASE", "SCHEMA", "VIEW",
    "TRIGGER", "EVENT", "PROCEDURE", "FUNCTION", "USER", "TABLESPACE",
    "SERVER")

  private val typeStop = Set("NOT", "NULL", "DEFAULT", "FIRST", "AFTER",
    "COMMENT", "COLLATE", "CHARACTER")

  /** Consume a column type: leading word plus optional parenthesized
    * args plus attribute words (UNSIGNED, ZEROFILL …) until a stop
    * keyword, a comma, or the end. */
  private def parseType(c: Cur, sql: String): String = {
    val sb = new StringBuilder(c.ident("column type").toUpperCase)
    if (c.more && c.peek == "(") {
      sb.append('(')
      c.i += 1
      var depth = 1
      while (depth > 0) {
        if (!c.more) fail(sql, "unterminated type argument list")
        val t = c.next()
        if (t == "(") depth += 1
        if (t == ")") depth -= 1
        if (depth > 0) sb.append(if (t == ",") "," else show(t))
      }
      sb.append(')')
    }
    while (c.more && c.peek != "," && isIdentTok(c.peek) &&
      !typeStop.contains(identOf(c.peek).toUpperCase)) {
      // a column-spec constraint word here is NOT a type attribute:
      // `ADD c BIGINT PRIMARY KEY` (or the bare `KEY` shorthand)
      // changes replication identity and must refuse, not be absorbed
      val w = identOf(c.peek).toUpperCase
      if (!c.peek.startsWith(" ") && columnConstraintKws.contains(w))
        fail(sql, s"unsupported column constraint '$w' — key/constraint " +
          "changes alter replication identity and have no safe mapping")
      sb.append(' ').append(c.ident("type attribute").toUpperCase)
    }
    sb.result()
  }

  /** Constraint words that may trail a column spec and must refuse
    * rather than ride along as type attributes. */
  private val columnConstraintKws =
    Set("PRIMARY", "KEY", "UNIQUE", "REFERENCES", "CHECK", "CONSTRAINT")

  /** DEFAULT literal → Spark-SQL expression text. Only literals the
    * engine can serve as a lazy backfill are accepted; expressions
    * (CURRENT_TIMESTAMP, functions) refuse — a backfill that re-runs
    * an expression per read would not be MySQL's frozen default. */
  private def parseDefaultLiteral(c: Cur, sql: String): String = {
    val t = c.next()
    if (t.startsWith(" S"))
      "'" + t.substring(2).replace("'", "''") + "'"
    else if (!t.startsWith(" ") &&
      (kw(t, "NULL") || kw(t, "TRUE") || kw(t, "FALSE")))
      t.toUpperCase
    else if (!t.startsWith(" ") &&
      t.matches("[-+]?[0-9]+(\\.[0-9]+)?([eE][-+]?[0-9]+)?"))
      t
    else fail(sql, s"unsupported DEFAULT value ${show(t)} (literals only)")
  }

  /** Skip the NULL/NOT NULL + DEFAULT + position tail of a column spec,
    * returning the DEFAULT literal if one appeared. */
  private def parseColumnTail(c: Cur, sql: String): Option[String] = {
    var default = Option.empty[String]
    var go = true
    while (go && c.more && c.peek != ",") {
      if (c.takeKw("NOT")) c.expectKw("NULL")
      else if (c.takeKw("NULL")) ()
      else if (c.takeKw("DEFAULT")) default = Some(parseDefaultLiteral(c, sql))
      else if (c.takeKw("FIRST")) ()
      else if (c.takeKw("AFTER")) { c.ident("column name"); () }
      else if (c.takeKw("COMMENT")) { c.next(); () }
      else go = false
    }
    default
  }

  private val indexKws = Set("INDEX", "KEY", "UNIQUE", "FULLTEXT", "SPATIAL")

  /** Bare keywords that open clauses the engine must NOT absorb as a
    * column name: a PRIMARY KEY change alters replication identity, a
    * FOREIGN KEY / CHECK constraint has no destination semantics. A
    * backticked ident spelling one of these is still a column. */
  private val refusedClauseKws =
    Set("PRIMARY", "FOREIGN", "CONSTRAINT", "CHECK", "PARTITION")

  /** Execution hints and physical table options — clauses with NO
    * replica semantics (the destination's physical layout is its own):
    * `ALGORITHM=INPLACE`, `LOCK=NONE` (the tails every gh-ost/pt-osc
    * ALTER ships), `ENGINE=InnoDB` (the standard defrag rebuild),
    * AUTO_INCREMENT / ROW_FORMAT / COMMENT / KEY_BLOCK_SIZE / STATS_*
    * options, and the DEFAULT CHARACTER SET/COLLATE table defaults
    * (which affect FUTURE columns source-side — existing data is
    * untouched, unlike `CONVERT TO CHARACTER SET`, which rewrites data
    * and still refuses). The tokenizer keeps `K=V` as one token, so
    * both `ALGORITHM=INPLACE` and `ALGORITHM = INPLACE` match. */
  private val hintKws = Set("ALGORITHM", "LOCK", "ENGINE",
    "AUTO_INCREMENT", "ROW_FORMAT", "COMMENT", "KEY_BLOCK_SIZE",
    "STATS_PERSISTENT", "STATS_AUTO_RECALC", "CHARSET", "COLLATE",
    "CHARACTER", "DEFAULT")

  /** True iff the cursor stands at a hint/table-option clause. Looks,
    * never consumes — [[skipClause]] eats the clause when it matches.
    * `DEFAULT` qualifies only when followed by a charset word (a bare
    * DEFAULT clause shape doesn't exist in ALTER). */
  private def hintClause(c: Cur): Boolean = {
    if (!c.more || c.peek.startsWith(" ")) false
    else {
      val up = c.peek.toUpperCase
      val word = up.takeWhile(_ != '=')
      if (!hintKws.contains(word)) false
      else if (word == "DEFAULT" || word == "CHARACTER") {
        // DEFAULT [CHARACTER SET|CHARSET|COLLATE] / CHARACTER SET —
        // BOTH require the charset shape one token ahead, or the
        // clause is not a table option and must refuse downstream
        // instead of silently absorbing as an inert hint
        val next = if (c.i + 1 < c.toks.length) c.toks(c.i + 1) else ""
        if (next.startsWith(" ")) false
        else if (word == "DEFAULT")
          Seq("CHARACTER", "CHARSET", "COLLATE")
            .contains(next.toUpperCase.takeWhile(_ != '='))
        else next.equalsIgnoreCase("SET") ||
          next.toUpperCase.startsWith("SET=")
      } else true
    }
  }

  private def refuseClauseKw(c: Cur, sql: String, verb: String): Unit =
    if (c.more && !c.peek.startsWith(" ") &&
      refusedClauseKws.contains(c.peek.toUpperCase))
      fail(sql, s"unsupported ALTER TABLE clause '$verb ${c.peek.toUpperCase}'")

  /** Consume the rest of an inert index clause (to the next top-level
    * comma), keeping paren depth so an index column list's commas don't
    * end the clause early. */
  private def skipClause(c: Cur): Unit = {
    var depth = 0
    while (c.more && !(depth == 0 && c.peek == ",")) {
      val t = c.next()
      if (t == "(") depth += 1
      if (t == ")") depth -= 1
    }
  }

  private def parseAlterClause(c: Cur, table: String,
      sql: String): Seq[Statement] = {
    if (c.takeKw("ADD")) {
      // only a BARE keyword opens an index clause: a backticked ident
      // that happens to spell INDEX is a column named INDEX
      if (c.more && !c.peek.startsWith(" ") &&
        indexKws.contains(c.peek.toUpperCase)) {
        skipClause(c); Seq(Inert(table, "ADD INDEX"))
      } else {
        refuseClauseKw(c, sql, "ADD")
        c.takeKw("COLUMN")
        if (c.more && c.peek == "(") {
          // MySQL's parenthesized multi-add:
          // ADD COLUMN (a INT, b VARCHAR(8) DEFAULT 'x')
          c.i += 1
          val adds = Seq.newBuilder[Statement]
          var go = true
          while (go) {
            val col = c.ident("column name")
            val tpe = parseType(c, sql)
            adds += AddColumn(table, col, tpe, parseColumnTail(c, sql))
            if (c.more && c.peek == ",") c.i += 1 else go = false
          }
          if (!c.more || c.next() != ")")
            fail(sql, "expected ) closing the ADD column list")
          adds.result()
        } else {
          val col = c.ident("column name")
          val tpe = parseType(c, sql)
          Seq(AddColumn(table, col, tpe, parseColumnTail(c, sql)))
        }
      }
    } else if (c.takeKw("DROP")) {
      if (c.more && !c.peek.startsWith(" ") &&
        indexKws.contains(c.peek.toUpperCase)) {
        skipClause(c); Seq(Inert(table, "DROP INDEX"))
      } else {
        refuseClauseKw(c, sql, "DROP")
        c.takeKw("COLUMN")
        Seq(DropColumn(table, c.ident("column name")))
      }
    } else if (c.takeKw("RENAME")) {
      if (c.takeKw("COLUMN")) {
        val from = c.ident("column name")
        c.expectKw("TO")
        Seq(RenameColumn(table, from, c.ident("column name")))
      } else if (c.more && !c.peek.startsWith(" ") &&
        Seq("INDEX", "KEY").contains(c.peek.toUpperCase)) {
        // RENAME INDEX a TO b — secondary-index bookkeeping, inert
        skipClause(c); Seq(Inert(table, "RENAME INDEX"))
      } else {
        c.takeKw("TO"); c.takeKw("AS")
        Seq(RenameTable(Seq(table -> c.tableName())))
      }
    } else if (hintClause(c)) {
      // execution hints and table options with no replica semantics:
      // every gh-ost/pt-osc ALTER ships ALGORITHM=INPLACE, LOCK=NONE
      // tails, and ENGINE=InnoDB is the standard defrag rebuild —
      // refusing them would reject nearly every real migration statement
      skipClause(c); Seq(Inert(table, "TABLE OPTION"))
    } else if (c.takeKw("MODIFY")) {
      c.takeKw("COLUMN")
      val col = c.ident("column name")
      val tpe = parseType(c, sql)
      parseColumnTail(c, sql)
      Seq(ModifyColumn(table, col, tpe))
    } else if (c.takeKw("CHANGE")) {
      c.takeKw("COLUMN")
      val from = c.ident("column name")
      val to = c.ident("column name")
      val tpe = parseType(c, sql)
      parseColumnTail(c, sql)
      if (from.equalsIgnoreCase(to)) Seq(ModifyColumn(table, to, tpe))
      else Seq(RenameColumn(table, from, to))
    } else fail(sql,
      s"unsupported ALTER TABLE clause at ${show(c.peek)} (supported: " +
        "ADD/DROP/MODIFY/CHANGE/RENAME COLUMN, RENAME TO, index verbs)")
  }

  /** Parse a `CREATE TABLE t (…)` body into its structured statement.
    * Columns parse as (name, MySQL type text); the PRIMARY KEY arrives
    * inline (`id BIGINT PRIMARY KEY`, or the bare `KEY` shorthand) or
    * as the table-constraint form (`PRIMARY KEY (a, b)`). Secondary
    * index/constraint clauses (KEY/INDEX/UNIQUE/FULLTEXT/SPATIAL/
    * CONSTRAINT/FOREIGN KEY/CHECK) are inert here exactly as in ALTER
    * — source-side physical concerns. Column DEFAULTs (expressions
    * included) and ON UPDATE tails are consumed without recording: a
    * table born in the gap has no pre-DDL rows to backfill, so its
    * defaults never become lazy-backfill verbs. Table options after
    * the closing paren (ENGINE=, CHARSET…) skip. Anything else throws
    * — the caller degrades the statement to [[Unsupported]]. */
  private def parseCreateBody(c: Cur, table: String,
      sql: String): CreateTable = {
    if (!c.more || c.next() != "(")
      fail(sql, "expected ( opening the CREATE TABLE column list")
    val cols = Seq.newBuilder[(String, String)]
    var keyCols = Seq.empty[String]
    var go = true
    while (go) {
      if (c.more && !c.peek.startsWith(" ") &&
        c.peek.equalsIgnoreCase("PRIMARY")) {
        c.i += 1; c.expectKw("KEY")
        if (c.takeKw("USING")) c.ident("index type")
        require(keyCols.isEmpty, "duplicate PRIMARY KEY clause")
        keyCols = parseKeyColumnList(c, sql)
      } else if (c.more && !c.peek.startsWith(" ") &&
        (indexKws.contains(c.peek.toUpperCase) ||
          Seq("CONSTRAINT", "FOREIGN", "CHECK")
            .contains(c.peek.toUpperCase))) {
        skipCreateClause(c)
      } else {
        val (name, tpe, pk) = parseCreateColumn(c, sql)
        cols += (name -> tpe)
        if (pk) {
          require(keyCols.isEmpty,
            "duplicate PRIMARY KEY declaration (inline + constraint)")
          keyCols = Seq(name)
        }
      }
      if (c.more && c.peek == ",") c.i += 1
      else if (c.more && c.peek == ")") { c.i += 1; go = false }
      else fail(sql, s"expected , or ) in CREATE TABLE body at " +
        show(c.peek))
    }
    c.i = c.toks.length // table options (ENGINE=, CHARSET, …) — inert
    val columns = cols.result()
    require(columns.nonEmpty, "CREATE TABLE with no columns")
    require(columns.map(_._1.toLowerCase).distinct.length == columns.length,
      "CREATE TABLE declares a column twice")
    keyCols.foreach(k => require(
      columns.exists(_._1.equalsIgnoreCase(k)),
      s"PRIMARY KEY names undeclared column '$k'"))
    CreateTable(table, columns, keyCols)
  }

  /** `(a, b(10), c ASC)` → Seq(a, b, c). */
  private def parseKeyColumnList(c: Cur, sql: String): Seq[String] = {
    if (!c.more || c.next() != "(")
      fail(sql, "expected ( opening the key column list")
    val out = Seq.newBuilder[String]
    var go = true
    while (go) {
      out += c.ident("key column")
      if (c.more && c.peek == "(") { // prefix length, e.g. name(10)
        c.i += 1; c.next(); if (!c.more || c.next() != ")")
          fail(sql, "unterminated key prefix length")
      }
      c.takeKw("ASC"); c.takeKw("DESC")
      if (c.more && c.peek == ",") c.i += 1
      else if (c.more && c.peek == ")") { c.i += 1; go = false }
      else fail(sql, "expected , or ) in key column list")
    }
    out.result()
  }

  /** Skip an index/constraint clause inside a CREATE body: to the next
    * comma at THIS paren depth, or to (not past) the body's closing
    * paren. */
  private def skipCreateClause(c: Cur): Unit = {
    var depth = 0
    var go = true
    while (go && c.more) {
      if (depth == 0 && (c.peek == "," || c.peek == ")")) go = false
      else {
        val t = c.next()
        if (t == "(") depth += 1
        if (t == ")") depth -= 1
      }
    }
  }

  /** One CREATE-body column spec: name, type text, inline-PK flag.
    * Unlike ALTER's [[parseType]], an inline `PRIMARY KEY` (or the
    * bare `KEY` shorthand) is a KEY DECLARATION here — a CREATE is
    * allowed to declare its identity; only ALTERing identity refuses. */
  private def parseCreateColumn(c: Cur,
      sql: String): (String, String, Boolean) = {
    val name = c.ident("column name")
    val sb = new StringBuilder(c.ident("column type").toUpperCase)
    if (c.more && c.peek == "(") {
      sb.append('(')
      c.i += 1
      var depth = 1
      while (depth > 0) {
        if (!c.more) fail(sql, "unterminated type argument list")
        val t = c.next()
        if (t == "(") depth += 1
        if (t == ")") depth -= 1
        if (depth > 0) sb.append(if (t == ",") "," else show(t))
      }
      sb.append(')')
    }
    while (c.more && !c.peek.startsWith(" ") &&
      Seq("UNSIGNED", "ZEROFILL").contains(c.peek.toUpperCase))
      sb.append(' ').append(c.next().toUpperCase)
    var pk = false
    var go = true
    def literalOrCall(): Unit = {
      c.next() // a literal, or a function word like CURRENT_TIMESTAMP
      if (c.more && c.peek == "(") { // …(6) precision args
        var depth = 0
        do {
          val t = c.next()
          if (t == "(") depth += 1
          if (t == ")") depth -= 1
        } while (depth > 0 && c.more)
      }
    }
    while (go && c.more && c.peek != "," && c.peek != ")") {
      if (c.takeKw("NOT")) c.expectKw("NULL")
      else if (c.takeKw("NULL")) ()
      else if (c.takeKw("DEFAULT")) literalOrCall()
      else if (c.takeKw("ON")) { c.expectKw("UPDATE"); literalOrCall() }
      else if (c.takeKw("AUTO_INCREMENT")) ()
      else if (c.takeKw("COMMENT")) { c.next(); () }
      else if (c.takeKw("COLLATE")) { c.next(); () }
      else if (c.takeKw("CHARACTER")) { c.expectKw("SET"); c.next(); () }
      else if (c.takeKw("PRIMARY")) { c.expectKw("KEY"); pk = true }
      else if (c.takeKw("KEY")) pk = true // column-spec KEY = PRIMARY KEY
      else if (c.takeKw("UNIQUE")) { c.takeKw("KEY"); () }
      else go = false
    }
    if (!go) fail(sql,
      s"unsupported CREATE column attribute at ${show(c.peek)}")
    (name, sb.result(), pk)
  }

  /** MySQL column type text → the engine's Spark type — the TABLE_MAP
    * analogue a CREATE TABLE bootstrap needs (feeds
    * [[graft.sources.DestinationDdl.createTable]] through the topology
    * layer). The mappings mirror the exercised type-surface policy:
    * unsigned BIGINT rides DECIMAL(20,0) (2^64−1 overflows a signed
    * long), ENUM/SET/JSON ride as strings, TIME as seconds-of-day
    * Int32, BIT as Int64, DATETIME/TIMESTAMP as µs-precision naive
    * timestamps (sessions pin UTC). Unknown types refuse loudly — a
    * guessed type map is the tool class's #1 silent-corruption source. */
  def sparkType(mysqlType: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    val t = mysqlType.trim.toUpperCase
    val base = t.takeWhile(ch => ch != '(' && !ch.isWhitespace)
    val unsigned = t.contains("UNSIGNED")
    def args: Seq[Int] = {
      val o = t.indexOf('(')
      if (o < 0) Seq.empty
      else t.substring(o + 1, t.indexOf(')', o)).split(',')
        .flatMap(_.trim.toIntOption).toSeq
    }
    base match {
      case "TINYINT" => if (unsigned) ShortType else ByteType
      case "BOOL" | "BOOLEAN" => ByteType // TINYINT(1) alias
      case "SMALLINT" => if (unsigned) IntegerType else ShortType
      case "MEDIUMINT" => IntegerType // unsigned max 2^24 fits Int32
      case "INT" | "INTEGER" => if (unsigned) LongType else IntegerType
      case "BIGINT" => if (unsigned) DecimalType(20, 0) else LongType
      case "DECIMAL" | "NUMERIC" | "DEC" | "FIXED" =>
        val a = args
        DecimalType(a.headOption.getOrElse(10), a.drop(1).headOption.getOrElse(0))
      case "FLOAT" => FloatType
      case "DOUBLE" | "REAL" => DoubleType
      case "CHAR" | "VARCHAR" | "TINYTEXT" | "TEXT" | "MEDIUMTEXT" |
        "LONGTEXT" | "ENUM" | "SET" | "JSON" => StringType
      case "BINARY" | "VARBINARY" | "TINYBLOB" | "BLOB" | "MEDIUMBLOB" |
        "LONGBLOB" => BinaryType
      case "DATE" => DateType
      case "DATETIME" | "TIMESTAMP" => TimestampNTZType
      case "TIME" => IntegerType // seconds-of-day, the engine's TIME carrier
      // Int16 — the exercised type-surface policy (Tables.cdcLogExotic's
      // `yr` column and MySqlTypes' scaladoc both pin YEAR to Int16:
      // range 1901..2155): the envelope path and this parsed-CREATE
      // path must produce the SAME engine type or a CREATE-bootstrapped
      // table would diverge from an envelope-fed one (closure spec in
      // DdlSqlSpec "type map closes over both paths")
      case "YEAR" => ShortType
      case "BIT" => LongType // bits ride as ints (cdc_type_exotic policy)
      case other => throw new IllegalArgumentException(
        s"no engine mapping for MySQL type '$other' (in '$mysqlType') — " +
          "extend the type map explicitly rather than guessing")
    }
  }

  /** Fold the gap's QueryEvents — (binlog position, raw SQL) in
    * position order — into ONE resumed pass's structured config.
    * Composition rules mirror what the structured verbs would see if
    * declared one pass per statement:
    *
    *  - renames CHAIN (a→b then b→c folds to a→c) and re-key GAP-BORN
    *    defaults (an ADD…DEFAULT earlier in the same gap follows the
    *    new name); published-column drop entries are NOT re-keyed —
    *    there is nothing valid to re-key them to;
    *  - a column ADDED and DROPPED within the gap never existed for
    *    the state — both entries cancel;
    *  - NAME-REUSE ACROSS DROP/RENAME REFUSES: the pass config applies
    *    renames before drops, so a gap like `DROP COLUMN a; RENAME
    *    COLUMN b TO a` (b's history must survive under the name whose
    *    OLD values the drop killed) cannot be expressed as one config
    *    — folding it would either refuse downstream with a misleading
    *    message or null out b's carried history; likewise renaming a
    *    column already dropped in the gap, or dropping a column
    *    already renamed away. Each refusal names the gap sequence.
    *    (`DROP COLUMN a; ADD COLUMN a … DEFAULT d` DOES compose: old
    *    values die at the drop seq, the reborn column backfills.)
    *  - TRUNCATE keeps the newest position (each one widens the floor);
    *  - table renames accumulate in statement order (apply them via
    *    [[graft.Replication.renameTables]] BEFORE the pass);
    *  - in-scope CREATE/DROP TABLE record into
    *    `createTables`/`dropTables` for the TOPOLOGY layer
    *    ([[graft.Replication.applyTableLifecycle]]); a column-level
    *    pass consuming the config refuses them, as it does
    *    `tableRenames`.
    *
    * `tableFilter` scopes the fold to one destination table's
    * statements (a binlog interleaves every table's DDL); column-verb
    * statements for other tables are skipped, RENAME TABLE pairs are
    * kept whole (they rebind dirs at the topology level). */
  def fold(events: Seq[(Long, String)],
      tableFilter: Option[String] = None): DdlConfig =
    foldCore(events,
      scope = st => tableFilter.forall(t => st.table.equalsIgnoreCase(t)),
      keepPair = { case (a, b) => tableFilter.forall(t =>
        a.equalsIgnoreCase(t) || b.equalsIgnoreCase(t)) })._1

  /** [[fold]] for the MULTI-TABLE topology (a [[FanOut]] pass's
    * config shape): scope = membership in the
    * replicated set. Column verbs fold ENVELOPE-WIDE exactly as the
    * multi pass applies them — one binlog, one shared envelope, one
    * fan-out: a rename declared on any replicated table renames the
    * column in every table's state dir (the engine's documented
    * model); TRUNCATE is the one per-TABLE verb, returned as the
    * second element (table → newest position — the multi pass's
    * `truncateAt` shape). RENAME TABLE pairs touching any replicated
    * table are kept; lifecycle verbs record as in [[fold]]. Returned
    * `cfg.truncateAtSeq` is always None here — the per-table map is
    * authoritative. */
  def foldTopology(events: Seq[(Long, String)], tables: Set[String])
      : (DdlConfig, Map[String, Long]) = {
    val lower = tables.map(_.toLowerCase)
    val (cfg, trunc) = foldCore(events,
      scope = st => lower.contains(st.table.toLowerCase),
      keepPair = { case (a, b) =>
        lower.contains(a.toLowerCase) || lower.contains(b.toLowerCase) },
      perTableTruncate = true)
    (cfg, trunc)
  }

  private def foldCore(events: Seq[(Long, String)],
      scope: Statement => Boolean,
      keepPair: ((String, String)) => Boolean,
      perTableTruncate: Boolean = false)
      : (DdlConfig, Map[String, Long]) = {
    var cfg = DdlConfig()
    var truncates = Map.empty[String, Long]
    // columns born in this gap, with the spec that declared them — a
    // multi-table source migrating a SHARED envelope column emits one
    // identical ALTER per table (MySQL binlogs only successful
    // statements, so a true same-table duplicate can never arrive):
    // IDENTICAL re-declarations are idempotent no-ops, only a
    // CONFLICTING one refuses
    var added = Map.empty[String, (String, Option[String])]
    // SIBLING-TABLE REPLAY detection, keyed on (verb signature →
    // first applying table): a multi-table source migrating a SHARED
    // envelope column emits one identical ALTER per table, so the
    // same column verb arriving from a DIFFERENT table is that
    // sibling's replay of an already-applied step — a no-op — while
    // the same verb from the SAME table is genuine (e.g. `DROP a;
    // ADD a` name reuse). Matching the step AS DECLARED (not the
    // collapsed renameCols map) keeps chains idempotent: once a→b,
    // b→c fold to a→c, a sibling's re-declared 'b TO c' maps to
    // nothing in renameCols; and matching per TABLE keeps GROUPED
    // arrival (all of t1's ALTERs, then all of t2's) from re-adding a
    // column the first table's rename already re-keyed.
    var applied = Map.empty[Product, String]
    def siblingReplay(st: Statement): Boolean = {
      val sig: Option[Product] = st match {
        case AddColumn(_, c, t, d) => Some(("ADD", c, t, d))
        case DropColumn(_, c) => Some(("DROP", c))
        case RenameColumn(_, f, t) => Some(("RENAME", f, t))
        case ModifyColumn(_, c, t) => Some(("MODIFY", c, t))
        case _ => None // table-level verbs are per-table by nature
      }
      sig.exists { g =>
        applied.get(g) match {
          case Some(t0) => !t0.equalsIgnoreCase(st.table) // replay
          case None => applied += g -> st.table; false
        }
      }
    }
    val evs = events.sortBy(_._1)
    for ((seq, sql) <- evs; st <- parse(sql)) {
      val inScope = st match {
        case _: RenameTable => true // pair-filtered below
        case s => scope(s)
      }
      if (inScope && !siblingReplay(st)) st match {
        case AddColumn(_, col, tpe, default) =>
          added.get(col) match {
            case Some(spec) if spec == (tpe, default) =>
              () // the same ADD from a sibling table — idempotent
            case Some((t0, d0)) =>
              throw new IllegalArgumentException(
                s"DDL gap adds column '$col' twice with conflicting " +
                  s"specs ($t0 default $d0 vs $tpe default $default, " +
                  s"at seq $seq)")
            case None =>
              added += col -> (tpe, default)
              default.foreach { d =>
                cfg = cfg.copy(defaultCols = cfg.defaultCols +
                  (col -> StreamingOps.ColumnDefault(seq, d)))
              }
          }
        case DropColumn(_, col) =>
          if (added.contains(col)) {
            // born and dropped inside the gap: the envelope never
            // carries it and the state never saw it — both cancel
            added -= col
            cfg = cfg.copy(defaultCols = cfg.defaultCols - col)
          } else {
            // dropping a name a rename already claimed (either side)
            // is unfoldable: `RENAME a TO b; DROP a` drops a column
            // that no longer exists, `RENAME a TO b; DROP b` kills the
            // migrated history a single config would order wrongly
            cfg.renameCols.find { case (f, t2) => f == col || t2 == col }
              .foreach { case (f, t2) =>
                throw new IllegalArgumentException(
                  s"DDL gap renames '$f' to '$t2' and later (at seq " +
                    s"$seq) drops '$col' — one pass config applies " +
                    "renames before drops and cannot express this " +
                    "order; split the gap into two passes")
              }
            // a narrowing/modify declaration for a column the gap then
            // DROPS is moot — the column dies at the drop seq; leaving
            // the entry would falsely refuse a narrow-then-remove
            // cleanup migration at the MODIFY gate
            cfg = cfg.copy(dropCols = cfg.dropCols + (col -> seq),
              modifyCols = cfg.modifyCols - col)
          }
        case RenameColumn(_, from, to) =>
          // name reuse across an earlier drop is unfoldable: the pass
          // applies renames BEFORE drops, so `DROP a; RENAME b TO a`
          // folded together would gate b's carried history under a's
          // drop seq (nulling what must survive) — refuse naming the
          // sequence instead of mis-applying or refusing downstream
          // with a misleading 'target already published'
          if (cfg.dropCols.contains(to))
            throw new IllegalArgumentException(
              s"DDL gap drops column '$to' (at seq ${cfg.dropCols(to)}) " +
                s"and later (at seq $seq) renames '$from' onto the freed " +
                "name — one pass config applies renames before drops " +
                "and cannot express this order; split the gap into two " +
                "passes")
          if (cfg.dropCols.contains(from))
            throw new IllegalArgumentException(
              s"DDL gap drops column '$from' (at seq " +
                s"${cfg.dropCols(from)}) and later (at seq $seq) " +
                "renames it — the column no longer exists at the " +
                "rename's turn")
          if (added.contains(from)) {
            // a gap-born column renames by re-keying its default —
            // the state has no published column to migrate
            added = added - from + (to -> added(from))
            cfg.defaultCols.get(from).foreach { d =>
              cfg = cfg.copy(defaultCols = cfg.defaultCols - from + (to -> d))
            }
          } else if (cfg.renameCols.contains(from))
            // `RENAME a TO b; RENAME a TO c` — a was renamed away
            // earlier in the gap, so the second statement names a
            // column that no longer exists (MySQL would have refused
            // it at the source; a fold that silently overwrote the
            // first mapping would lose b entirely)
            throw new IllegalArgumentException(
              s"DDL gap renames '$from' (to '${cfg.renameCols(from)}') " +
                s"and later (at seq $seq) renames it again to '$to' — " +
                "the column no longer exists at the second rename's turn")
          else cfg.renameCols.find(_._2 == from) match {
            case Some((orig, _)) => // chain a→b, b→c ⇒ a→c
              cfg = cfg.copy(renameCols = cfg.renameCols + (orig -> to))
            case None =>
              cfg = cfg.copy(renameCols = cfg.renameCols + (from -> to))
          }
        case ModifyColumn(_, col, tpe) =>
          // the type change arrives with the resumed pass's envelope
          // schema — but the declaration is RECORDED so the consuming
          // pass can refuse a narrowing at the gate, naming this
          // statement (gap-born columns skip: nothing published yet)
          if (!added.contains(col))
            cfg = cfg.copy(modifyCols = cfg.modifyCols + (col -> (seq, tpe)))
        case TruncateTable(t) =>
          if (perTableTruncate)
            truncates += (t ->
              math.max(truncates.getOrElse(t, Long.MinValue), seq))
          else cfg = cfg.copy(truncateAtSeq =
            Some(math.max(cfg.truncateAtSeq.getOrElse(Long.MinValue), seq)))
        case RenameTable(pairs) =>
          // scoped per PAIR: a rename touching a scoped table on
          // either side matters (the OSC cutover renames it); a fully
          // foreign rename is a neighbor's cutover — routine noise
          cfg = cfg.copy(tableRenames =
            cfg.tableRenames ++ pairs.filter(keepPair))
        case ct: CreateTable =>
          // lifecycle verbs record for the TOPOLOGY layer — the same
          // contract as tableRenames: a column-level pass consuming
          // the config refuses them, applyTableLifecycle maps them
          cfg = cfg.copy(createTables = cfg.createTables :+ (seq -> ct))
        case DropTable(t) =>
          cfg = cfg.copy(dropTables = cfg.dropTables :+ (seq -> t))
        case Inert(_, _) => ()
        case Unsupported(t, verb) =>
          // reachable only in scope (the filter skipped foreign noise):
          // a statement the dialect cannot map for THE replicated
          // table must never silently drop
          throw new IllegalArgumentException(
            s"unsupported statement verb '$verb' for replicated table " +
              s"'$t' at seq $seq — in: $sql")
      }
    }
    (cfg, truncates)
  }
}
