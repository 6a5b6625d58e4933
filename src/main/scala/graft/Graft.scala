package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model._
import graft.pgq._
import graft.compiler.GraphTableCompiler

/** User-facing facade — the Spark-native equivalent of loading the DuckPGQ
  * extension: DDL execution, `GRAPH_TABLE` queries from SQL/PGQ text or from
  * the Scala AST, and algorithm table-functions.
  *
  * {{{
  * val g = Graft(spark, TableResolver.parquetDir("/data/sf1"))
  * g.sql("CREATE PROPERTY GRAPH pg VERTEX TABLES (...) EDGE TABLES (...)")
  * val df = g.graphTable("pg MATCH (a:Person)-[k:Knows]->(b:Person) COLUMNS (a.name, b.name)")
  * }}}
  */
final case class Graft(spark: SparkSession, resolver: TableResolver) {
  val registry: PropertyGraphRegistry = PropertyGraphRegistry.forSession(spark)

  /** Executes a PGQ statement (CREATE/DROP PROPERTY GRAPH, or a
    * GRAPH_TABLE query — reference entry points
    * `duckpgq_parser.cpp:223-268`). Returns a DataFrame for queries,
    * empty DataFrame for DDL. */
  def sql(text: String): DataFrame = PgqParser.statement(text) match {
    case c: CreatePropertyGraphSpec =>
      registry.create(spark, materialize(c), resolver,
        orReplace = c.orReplace, ifNotExists = c.ifNotExists)
      spark.emptyDataFrame
    case d: DropPropertyGraphSpec =>
      registry.drop(spark, d.name, d.ifExists)
      spark.emptyDataFrame
    case GraphTableStatement(spec) => compile(spec)
  }

  /** `GRAPH_TABLE( … )` (or its bare body) → DataFrame. */
  def graphTable(text: String): DataFrame =
    compile(PgqParser.graphTable(text))

  private val gtCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Runs a full SQL query that may contain `GRAPH_TABLE(…)` table
    * references anywhere in its FROM trees — WITH/CTEs, nested subqueries,
    * joins (reference entry point 1: the parser override that scans FROM
    * trees recursively, `duckpgq_parser.cpp:132-221`; tests
    * `with_clause.test`, `nested_subquery.test`, `unnamed_subquery.test`).
    *
    * Each GRAPH_TABLE span is compiled to a DataFrame, registered as a
    * temp view, and substituted; the rewritten query then runs through
    * Spark SQL unchanged — the same SQL-to-SQL strategy as the reference.
    */
  def sqlGraph(query: String): DataFrame =
    spark.sql(rewriteGraphTables(rewriteTableFunctions(query)))

  /** The substitution pass behind [[sqlGraph]] (also used by the
    * [[graft.plans.GraftExtensions]] parser override): compiles each
    * GRAPH_TABLE span, registers it as a temp view, returns the rewritten
    * SQL text. */
  def rewriteGraphTables(query: String): String = {
    // negative lookbehind: don't fire inside identifiers like
    // my_graph_table(...)
    val pat = java.util.regex.Pattern.compile(
      "(?i)(?<![A-Za-z0-9_])(?:GRAPH_TABLE|GRAPH\\s+TABLE)\\s*\\(")
    val sb = new StringBuilder(query)
    var searchFrom = 0
    var unnamedCount = 0
    var m = pat.matcher(sb)
    while (m.find(searchFrom)) {
      if (insideLiteralOrComment(sb, m.start())) {
        // mention inside a SQL string literal or comment — not a graph
        // table
        searchFrom = m.end()
      } else {
        val open = m.end() - 1 // both pattern alternatives end with '('
        val close = matchParen(sb, open)
        val inner = sb.substring(open + 1, close)
        val name = s"__graft_gt_${gtCounter.incrementAndGet()}"
        graphTable(inner).createOrReplaceTempView(name)
        // DuckDB names an un-aliased derived table `unnamed_subquery`
        // (then `unnamed_subquery2`, …), and queries reference those names
        // (unnamed_subquery.test, multiple_graph_table.test:57-95); attach
        // the same alias when the user didn't write one.
        val replacement =
          if (hasExplicitAlias(sb, close + 1)) name
          else {
            unnamedCount += 1
            val alias = if (unnamedCount == 1) "unnamed_subquery"
              else s"unnamed_subquery$unnamedCount"
            s"$name AS $alias"
          }
        sb.replace(m.start(), close + 1, replacement)
        searchFrom = 0
        m = pat.matcher(sb)
      }
    }
    sb.toString
  }

  /** True when the token following position `pos` is a user-written table
    * alias (optionally introduced by AS) rather than a clause keyword. */
  private def hasExplicitAlias(s: CharSequence, pos: Int): Boolean = {
    var i = pos
    while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
    if (i >= s.length) return false
    val c = s.charAt(i)
    if (!Character.isLetter(c) && c != '_') return false
    val sbTok = new StringBuilder
    while (i < s.length &&
        (Character.isLetterOrDigit(s.charAt(i)) || s.charAt(i) == '_')) {
      sbTok += s.charAt(i); i += 1
    }
    val tok = sbTok.toString.toLowerCase
    if (tok == "as") return true
    !Set("where", "group", "order", "limit", "having", "union", "intersect",
      "except", "join", "inner", "left", "right", "full", "cross", "on",
      "using", "qualify", "window", "offset", "fetch", "natural", "anti",
      "semi", "lateral", "positional", "asof", "when", "then", "else", "end",
      "and", "or", "not", "select", "from", "with").contains(tok)
  }

  /** Substitutes the reference's algorithm/introspection table functions
    * (`pagerank(pg, v, e)`, `weakly_connected_component(…)`,
    * `local_clustering_coefficient(…)`, `summarize_property_graph(pg)`,
    * `get_pg_v/etablenames('pg')`, `get_pg_v/ecolnames('pg','t')` —
    * reference registrations `pgq_scan.cpp:281-294`,
    * `summarize_property_graph.cpp`, `pagerank.cpp`) with temp views
    * computed by the Scala API, so the full SQL surface of the reference
    * replays verbatim. Same SQL-to-SQL strategy as [[rewriteGraphTables]]. */
  def rewriteTableFunctions(query: String): String = {
    val fnPat = java.util.regex.Pattern.compile(
      "(?i)(?<![A-Za-z0-9_.])(pagerank|weakly_connected_component|" +
        "strongly_connected_component|local_clustering_coefficient|" +
        "triangle_counts|k_core|harmonic_centrality|" +
        "label_propagation|random_walks|betweenness_centrality|k_truss|" +
        "summarize_property_graph|get_pg_vtablenames|get_pg_etablenames|" +
        "get_pg_vcolnames|get_pg_ecolnames)\\s*\\(([^()]*)\\)")
    val sb = new StringBuilder(query)
    var m = fnPat.matcher(sb)
    var guard = 0
    while (m.find() && guard < 64) {
      guard += 1
      val fn = m.group(1).toLowerCase
      val args = m.group(2).split(",").map(_.trim
        .stripPrefix("'").stripSuffix("'")
        .stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq
      val df = tableFunction(fn, args)
      val name = s"__graft_tf_${gtCounter.incrementAndGet()}"
      df.createOrReplaceTempView(name)
      // the reference aliases each generated subquery by a short function
      // alias (CreateTableFunctionSubquery: "lcc"/"pagerank"/"wcc" —
      // local_clustering_coefficient.cpp:31, pagerank.cpp:22,
      // weakly_connected_component.cpp:24) so queries can reference
      // `lcc.id` without writing an alias — attach the same default
      val defaultAlias = fn match {
        case "local_clustering_coefficient" => Some("lcc")
        case "pagerank" => Some("pagerank")
        case "weakly_connected_component" => Some("wcc")
        case "strongly_connected_component" => Some("scc")
        case "triangle_counts" => Some("triangles")
        case "k_core" => Some("kcore")
        case "harmonic_centrality" => Some("harmonic")
        case "label_propagation" => Some("communities")
        case "random_walks" => Some("walks")
        case "betweenness_centrality" => Some("betweenness")
        case "k_truss" => Some("ktruss")
        case _ => None
      }
      val replacement = defaultAlias match {
        case Some(a) if !hasExplicitAlias(sb, m.end()) => s"$name AS $a"
        case _ => name
      }
      sb.replace(m.start(), m.end(), replacement)
      m = fnPat.matcher(sb)
    }
    sb.toString
  }

  private def intArg(args: Seq[String], i: Int, default: Option[Int],
      usage: String, min: Int = 1): Int = {
    val v =
      if (args.length <= i) default.getOrElse(throw GraphAnalysisException(
        s"$usage requires an integer argument ${i + 1}"))
      else try args(i).toInt catch {
        case _: NumberFormatException => throw GraphAnalysisException(
          s"$usage: argument ${i + 1} must be an integer (got '${args(i)}')")
      }
    // range-check here so SQL callers get the SQL surface's error type,
    // not a raw IllegalArgumentException from the Scala API's require
    if (v < min) throw GraphAnalysisException(
      s"$usage: argument ${i + 1} must be >= $min (got $v)")
    v
  }

  /** Minimum positional-argument count and usage string per table
    * function — validated up front so SQL callers get a
    * [[GraphAnalysisException]] with the usage, never a raw
    * IndexOutOfBoundsException from a missing label argument (the
    * integer arguments already got this treatment via [[intArg]]). */
  private val tableFnUsage: Map[String, (Int, String)] = Map(
    "pagerank" -> (3, "pagerank(pg, vertexLabel, edgeLabel)"),
    "weakly_connected_component" ->
      (3, "weakly_connected_component(pg, vertexLabel, edgeLabel)"),
    "strongly_connected_component" ->
      (3, "strongly_connected_component(pg, vertexLabel, edgeLabel)"),
    "triangle_counts" -> (3, "triangle_counts(pg, vertexLabel, edgeLabel)"),
    "k_core" -> (4, "k_core(pg, vertexLabel, edgeLabel, k)"),
    "harmonic_centrality" ->
      (3, "harmonic_centrality(pg, vertexLabel, edgeLabel)"),
    "betweenness_centrality" ->
      (3, "betweenness_centrality(pg, vertexLabel, edgeLabel)"),
    "k_truss" -> (4, "k_truss(pg, vertexLabel, edgeLabel, k)"),
    "label_propagation" ->
      (3, "label_propagation(pg, vertexLabel, edgeLabel[, rounds])"),
    "random_walks" ->
      (3, "random_walks(pg, vertexLabel, edgeLabel[, walksPerStart[, steps]])"),
    "local_clustering_coefficient" ->
      (3, "local_clustering_coefficient(pg, vertexLabel, edgeLabel)"),
    "summarize_property_graph" -> (1, "summarize_property_graph(pg)"),
    "get_pg_vtablenames" -> (1, "get_pg_vtablenames(pg)"),
    "get_pg_etablenames" -> (1, "get_pg_etablenames(pg)"),
    "get_pg_vcolnames" -> (2, "get_pg_vcolnames(pg, tableName)"),
    "get_pg_ecolnames" -> (2, "get_pg_ecolnames(pg, tableName)"))

  private def tableFunction(fn: String, args: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    tableFnUsage.get(fn).foreach { case (minArgs, usage) =>
      if (args.length < minArgs) throw GraphAnalysisException(
        s"$usage requires $minArgs arguments (got ${args.length})")
    }
    def pg(i: Int) = registry.get(spark, args(i))
    fn match {
      case "pagerank" =>
        graph.Algorithms.pagerank(spark, pg(0), resolver, args(1), args(2))
      case "weakly_connected_component" =>
        graph.Algorithms.wcc(spark, pg(0), resolver, args(1), args(2))
      case "strongly_connected_component" =>
        graph.Algorithms.scc(spark, pg(0), resolver, args(1), args(2))
      case "triangle_counts" =>
        graph.Algorithms.triangles(spark, pg(0), resolver, args(1), args(2))
      case "k_core" =>
        val k = try args(3).toInt catch {
          case _: NumberFormatException | _: IndexOutOfBoundsException =>
            throw GraphAnalysisException(
              "k_core(pg, vertexLabel, edgeLabel, k) requires an integer k")
        }
        if (k < 1) throw GraphAnalysisException(
          s"k_core(pg, vertexLabel, edgeLabel, k) requires k >= 1 (got $k)")
        graph.Algorithms.kCoreTf(spark, pg(0), resolver, args(1), args(2), k)
      case "harmonic_centrality" =>
        graph.Algorithms.harmonicTf(spark, pg(0), resolver, args(1), args(2))
      case "betweenness_centrality" =>
        graph.Algorithms.betweennessTf(spark, pg(0), resolver,
          args(1), args(2))
      case "k_truss" =>
        val k = intArg(args, 3, default = None,
          "k_truss(pg, vertexLabel, edgeLabel, k)", min = 3)
        graph.Algorithms.kTrussTf(spark, pg(0), resolver,
          args(1), args(2), k)
      case "label_propagation" =>
        val rounds = intArg(args, 3, default = Some(6),
          "label_propagation(pg, vertexLabel, edgeLabel[, rounds])")
        graph.Algorithms.labelPropagationTf(spark, pg(0), resolver,
          args(1), args(2), rounds)
      case "random_walks" =>
        val per = intArg(args, 3, default = Some(1),
          "random_walks(pg, vertexLabel, edgeLabel[, walksPerStart[, steps]])")
        val steps = intArg(args, 4, default = Some(8),
          "random_walks(pg, vertexLabel, edgeLabel[, walksPerStart[, steps]])")
        graph.Algorithms.walksTf(spark, pg(0), resolver, args(1), args(2),
          per, steps)
      case "local_clustering_coefficient" =>
        // the reference emits FLOAT (local_clustering_coefficient.cpp)
        graph.Algorithms.lcc(spark, pg(0), resolver, args(1), args(2))
          .select(col("*"), col("lcc").cast("float")
            .as("local_clustering_coefficient")).drop("lcc")
      case "summarize_property_graph" =>
        ddl.Introspect.summarize(spark, pg(0), resolver)
      case "get_pg_vtablenames" =>
        ddl.Introspect.vertexTableNames(spark, pg(0))
          .select(col("table_name").as("vtables"))
      case "get_pg_etablenames" =>
        ddl.Introspect.edgeTableNames(spark, pg(0))
          .select(col("table_name").as("etables"))
      case "get_pg_vcolnames" =>
        ddl.Introspect.vertexColumnNames(spark, pg(0), resolver)
          .filter(org.apache.spark.sql.functions.lower(col("table_name")) ===
            args(1).toLowerCase)
          .select(col("column_name").as("colnames"))
      case "get_pg_ecolnames" =>
        ddl.Introspect.edgeColumnNames(spark, pg(0), resolver)
          .filter(org.apache.spark.sql.functions.lower(col("table_name")) ===
            args(1).toLowerCase)
          .select(col("column_name").as("colnames"))
      case other => throw GraphAnalysisException(
        s"Unknown table function '$other'")
    }
  }

  /** True when `pos` falls inside a single- or double-quoted SQL literal,
    * a `--` line comment or a (nestable) bracketed comment. Tracks quote
    * state with backslash escapes (an apostrophe inside a double-quoted
    * string must not flip single-quote state, and vice versa); comment
    * openers inside a literal open nothing. */
  private def insideLiteralOrComment(s: CharSequence, pos: Int): Boolean = {
    // 0 = code, 1 = single-quoted, 2 = double-quoted, 3 = line comment,
    // 4 = bracketed comment (`depth` deep)
    var (state, depth, i) = (0, 0, 0)
    def at(j: Int, t: String): Boolean =
      j + 1 < s.length && s.charAt(j) == t(0) && s.charAt(j + 1) == t(1)
    while (i < pos) {
      val c = s.charAt(i)
      state match {
        case 0 =>
          if (c == '\'') state = 1
          else if (c == '"') state = 2
          else if (at(i, "--")) { state = 3; i += 1 }
          else if (at(i, "/*")) { state = 4; depth = 1; i += 1 }
        case 1 | 2 =>
          if (c == '\\') i += 1
          else if (c == (if (state == 1) '\'' else '"')) state = 0
        case 3 =>
          if (c == '\n') state = 0
        case _ =>
          if (at(i, "/*")) { depth += 1; i += 1 }
          else if (at(i, "*/")) {
            depth -= 1; i += 1
            if (depth == 0) state = 0
          }
      }
      i += 1
    }
    state != 0
  }

  /** Index of the ')' balancing the '(' at `open` (quote-aware). */
  private def matchParen(s: CharSequence, open: Int): Int = {
    var depth = 0; var i = open; var inStr = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ => ()
      }
      i += 1
    }
    throw GraphAnalysisException("Unbalanced parentheses in GRAPH_TABLE")
  }

  /** `COPY (GRAPH_TABLE …) TO 'path'` analogue
    * (reference `duckpgq_parser.cpp:255-260`, `copy_to_duckpgq.test`). */
  def copyTo(text: String, path: String, format: String = "csv"): Unit = {
    val df = graphTable(text)
    format.toLowerCase match {
      case "csv" => df.write.mode("overwrite")
        .option("header", "true").csv(path)
      case "parquet" => df.write.mode("overwrite").parquet(path)
      case "json" => df.write.mode("overwrite").json(path)
      case other => throw GraphAnalysisException(
        s"Unsupported COPY format '$other'")
    }
  }

  /** `EXPLAIN GRAPH_TABLE …` analogue (reference `explain_duckpgq.test`):
    * the compiled plan, formatted. */
  def explain(text: String): String =
    graphTable(text).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  def compile(spec: MatchSpec): DataFrame =
    GraphTableCompiler.compile(spark, spec,
      registry.get(spark, spec.graphName), resolver)

  /** DDL spec → registered model; expands `PROPERTIES ARE ALL COLUMNS
    * EXCEPT (…)` against the live schema (reference
    * `create_property_graph.cpp:75-96` set difference at bind time). */
  private def materialize(c: CreatePropertyGraphSpec): PropertyGraph = {
    // reference text for a missing base table at DDL time
    def resolve(t: String): DataFrame =
      try resolver(spark, t)
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          throw GraphAnalysisException(s"Table with name $t does not exist")
      }
    // `list` = declared property list for PROPERTIES(...), or the EXCEPT
    // list for ALL COLUMNS EXCEPT(...)
    def expandProps(table: String, mode: PropsMode,
        list: Seq[String]): Seq[String] = mode match {
      case PropsMode.All => Nil // empty = all columns
      case PropsMode.Some_ => list
      case PropsMode.None_ => Seq.empty
      case PropsMode.AllExcept =>
        val ex = list.map(_.toLowerCase).toSet
        resolve(table).columns.toSeq
          .filterNot(col => ex.contains(col.toLowerCase))
    }
    // `SOURCE <table>` / `DESTINATION <table>` shorthand: infer the key
    // pair from registered PK/FK metadata, replicating the reference's
    // constraint walk and its exact error messages
    // (create_property_graph.cpp:106-154, ValidateKeys; tested by
    // create_pg_with_pk_fk.test). Returns (edge fk cols, vertex pk cols).
    def inferKeys(e: EdgeTableSpec, ref: String,
        keyType: String): (Seq[String], Seq[String]) = {
      val tk = model.KeyRegistry.forSession(spark).get(e.table)
        .getOrElse(TableKeys())
      if (!tk.hasAny)
        throw GraphAnalysisException(
          s"No primary key - foreign key relationship found in ${e.table}" +
            s" with $keyType table $ref")
      val matching = tk.fks.filter(_.refTable.equalsIgnoreCase(ref))
      if (matching.length > 1)
        throw GraphAnalysisException(
          s"Multiple primary key - foreign key relationships detected " +
            s"between ${e.table} and $ref. Please explicitly define the " +
            s"primary key and foreign key columns using `$keyType KEY " +
            s"<primary key> REFERENCES $ref <foreign key>`")
      matching.headOption match {
        case Some(fk) => (fk.fkCols, fk.pkCols)
        case None => throw GraphAnalysisException(
          s"The primary key for the $keyType table $ref is not defined " +
            s"in the edge table ${e.table}")
      }
    }
    // aligned with c.edgeTables (a Map on table name would conflate the
    // same table registered twice under different aliases)
    val resolvedEdgeKeys: Seq[(Seq[String], Seq[String],
        Seq[String], Seq[String])] =
      c.edgeTables.map { e =>
        val (sk, srk) =
          if (e.srcKeys.isEmpty) inferKeys(e, e.srcRefTable, "SOURCE")
          else (e.srcKeys, e.srcRefKeys)
        val (dk, drk) =
          if (e.dstKeys.isEmpty) inferKeys(e, e.dstRefTable, "DESTINATION")
          else (e.dstKeys, e.dstRefKeys)
        (sk, srk, dk, drk)
      }

    // vertex key inference: the declared (or FK-inferred) source-ref key
    // of any edge referencing the table, then the table's registered
    // PRIMARY KEY, then the first column; the reference infers from real
    // catalog constraints (create_property_graph.cpp:106-154) — parquet
    // has none, so declared edge references carry the same information.
    // first-declared reference wins (deterministic; conflicting key
    // declarations across edges can't all be the vertex key anyway)
    val refKeys: Map[String, Seq[String]] =
      c.edgeTables.zip(resolvedEdgeKeys).flatMap { case (e, (_, srk, _, drk)) =>
        Seq(e.srcRefTable.toLowerCase -> srk, e.dstRefTable.toLowerCase -> drk)
      }.foldLeft(Map.empty[String, Seq[String]]) {
          case (m, (t, ks)) => if (m.contains(t)) m else m + (t -> ks)
        }

    // a vertex table is referenceable by its table name OR its declared
    // alias (reference create_property_graph.test:99 references
    // `Student_alias`)
    val labelByTable: Map[String, String] =
      c.vertexTables.flatMap(v =>
        (v.table +: v.alias.toSeq).map(n => n.toLowerCase -> v.effectiveLabel))
        .toMap

    val vts = c.vertexTables.map { v =>
      val keys = refKeys.get(v.table.toLowerCase)
        .orElse(v.alias.flatMap(a => refKeys.get(a.toLowerCase)))
        .orElse(model.KeyRegistry.forSession(spark).get(v.table)
          .map(_.pk).filter(_.nonEmpty))
        .getOrElse(Seq(resolve(v.table).columns.head))
      VertexTable(v.table, v.effectiveLabel, keys,
        expandProps(v.table, v.propsMode, v.props),
        v.discriminator, v.subLabels)
    }
    val ets = c.edgeTables.zip(resolvedEdgeKeys).map { case (e, eks) =>
      // reference text (create_property_graph.cpp vertex registration)
      val srcLabel = labelByTable.getOrElse(e.srcRefTable.toLowerCase,
        throw GraphAnalysisException(
          s"Table '${e.srcRefTable}' not found in the property graph ${c.name}."))
      val dstLabel = labelByTable.getOrElse(e.dstRefTable.toLowerCase,
        throw GraphAnalysisException(
          s"Table '${e.dstRefTable}' not found in the property graph ${c.name}."))
      val (sk, srk, dk, drk) = eks
      // tables registered with a hidden insertion-rowid column use it as
      // the edge identity — path arrays then carry DuckDB's physical edge
      // rowids exactly (shortest_path.cpp:212-217)
      val eid = if (resolve(e.table).columns.contains("__rowid"))
        Some("__rowid") else None
      EdgeTable(e.table, e.effectiveLabel, sk, srk, srcLabel,
        dk, drk, dstLabel,
        expandProps(e.table, e.propsMode, e.props),
        edgeIdCol = eid,
        discriminator = e.discriminator, subLabels = e.subLabels)
    }
    PropertyGraph(c.name, vts, ets)
  }
}
