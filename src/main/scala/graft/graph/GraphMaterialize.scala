package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Gazetteer, Mention, Triple}

/** Graph/analytics materialization (SURVEY §3.4, operators F4-F6, F8, A4,
  * A5, J1-J2, K3).
  *
  * Everything here is pure Catalyst: dimension joins are broadcast (the
  * agency table has 29 rows), heavy aggregations are partial-aggregable
  * counts, and the only self-join (co-citation) runs on the already
  * aggregated per-(newspaper, year, agency) table — orders of magnitude
  * smaller than the mention table.
  */
object GraphMaterialize {

  /** Analytic mention table: derive `(article, newspaper, date, year,
    * decade, agency, language, country)` from the mention id/url and drop
    * `pers.ind.articleauthor` (reference: `import_data.ipynb cell 7`,
    * filters F4/F5). */
  def analyticMentions(mentions: Dataset[Mention]): DataFrame = {
    mentions.toDF()
      .where(col("entity") =!= "pers.ind.articleauthor")
      .withColumn("newspaper", split(col("url"), "-").getItem(0))
      .withColumn("date",
        concat_ws("-",
          split(col("url"), "-").getItem(1),
          split(col("url"), "-").getItem(2),
          split(col("url"), "-").getItem(3)))
      .withColumn("year", split(col("url"), "-").getItem(1).cast("int"))
      .withColumn("decade", (col("year") / 10).cast("int") * 10)
      .withColumn("agency",
        regexp_replace(col("entity"), "^org\\.ent\\.pressagency\\.", ""))
      .withColumn("country",
        when(col("newspaper") === upper(col("newspaper")), lit("CH"))
          .otherwise(lit("LU")))
  }

  /** Agency dimension with existence intervals
    * (`network_analysis.ipynb cells 7-9`). */
  def agencyDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Gazetteer.agencyMeta.toDS().toDF()
      .select(col("agency"), col("qid"),
        col("startYear").as("start_year"), col("endYear").as("end_year"))
  }

  /** F6: temporal-validity semi-join — keep mentions within the agency's
    * existence interval. Broadcast equi-join + `between` residual. */
  def existenceFilter(analytic: DataFrame): DataFrame = {
    val dim = agencyDim(analytic.sparkSession)
    analytic
      .join(broadcast(dim.select(col("agency"), col("start_year"), col("end_year"))),
        Seq("agency"), "left")
      .where(col("year").between(
        coalesce(col("start_year"), lit(1840)),
        coalesce(col("end_year"), lit(2020))))
      .drop("start_year", "end_year")
  }

  /** A4: the KG edge materialization — weighted yearly bipartite edges
    * (`network_analysis.ipynb cell 18`). */
  def yearlyEdges(analytic: DataFrame): DataFrame =
    analytic
      .groupBy(col("newspaper"), col("agency"), col("year"))
      .agg(count(lit(1)).as("weight"), first(col("decade")).as("decade"))

  /** F8: weight threshold (`network_analysis.ipynb cell 21`). */
  def threshold(edges: DataFrame, minWeight: Long): DataFrame =
    edges.where(col("weight") >= minWeight)

  /** A5: agency-agency co-citation edge list — one edge per (newspaper,
    * year, agency-pair) carrying each agency's mention frequency in that
    * newspaper-year, exactly the reference's `create_subgraph_edgelist`
    * MultiGraph edge attributes (`network_analysis.ipynb code cell 20`:
    * Counter per (col_drop, year) → pair combinations → `freq_node1`,
    * `freq_node2`). Pair order is normalized to `ag1 < ag2` (the graph is
    * undirected; Counter insertion order is not deterministic anyway).
    *
    * Spark idiom: aggregate to (np, year, agency, n), then self-join on
    * (np, year) — the pandas Counter+combinations shape would concentrate
    * all pairs in the driver.
    */
  def coCitationEdges(analytic: DataFrame): DataFrame = {
    val perNpYear = analytic
      .groupBy(col("newspaper"), col("year"), col("agency"))
      .agg(count(lit(1)).as("n"))
    val a = perNpYear.select(
      col("newspaper"), col("year"),
      col("agency").as("ag1"), col("n").as("freq1"))
    val b = perNpYear.select(
      col("newspaper"), col("year"),
      col("agency").as("ag2"), col("n").as("freq2"))
    a.join(b, Seq("newspaper", "year"))
      .where(col("ag1") < col("ag2"))
      .select(col("newspaper"), col("year"),
        col("ag1"), col("ag2"), col("freq1"), col("freq2"))
  }

  /** Aggregated yearly co-citation view over [[coCitationEdges]] (the
    * simple-graph collapse used for plotting/GEXF): newspapers co-citing
    * the pair plus both nodes' total frequencies. */
  def coCitationYearly(analytic: DataFrame): DataFrame =
    coCitationEdges(analytic)
      .groupBy(col("ag1"), col("ag2"), col("year"))
      .agg(count(lit(1)).as("n_newspapers"),
        sum(col("freq1")).as("freq1"), sum(col("freq2")).as("freq2"))

  /** Newspaper existence intervals derived from corpus presence, the
    * analog of the reference's newspaper node attributes
    * (`network_analysis.ipynb cells 15-16`). */
  def newspaperIntervals(analytic: DataFrame): DataFrame =
    analytic.groupBy(col("newspaper").as("node"))
      .agg(min(col("year")).as("start_year"), max(col("year")).as("end_year"))

  /** Per-year bipartite graph metrics over a (thresholded) yearly edge
    * table — the DataFrame equivalent of `get_density_of_year` /
    * `get_components_of_year` (`network_analysis.ipynb cells 25-28`):
    *
    *  - node sets per year = dims whose existence interval covers the year
    *    (`get_graph_of_year` keeps isolated existing nodes);
    *  - edges per year = distinct (newspaper, agency) pairs of that year,
    *    both endpoints existing (the nx subgraph drops edges to
    *    out-of-interval nodes);
    *  - `density` = E / (n_ag · n_np)  (`bipartite.density` on the
    *    undirected simple graph);
    *  - `n_components` = connected components of the year's edge graph
    *    plus one per isolated existing node
    *    (`nx.number_connected_components` with drop_lonely_nodes=False).
    *
    * Scale shape: ALL years are solved by ONE connected-components run over
    * composite (year|node) keys — no per-year job loop; the dimension
    * tables are broadcast.
    *
    * Inputs: `edges(newspaper, agency, year, …)`; interval tables
    * `(node, start_year, end_year)` (see [[agencyDim]] /
    * [[newspaperIntervals]]).
    */
  def yearlyGraphMetrics(
      edges: DataFrame,
      agencyIntervals: DataFrame,
      npIntervals: DataFrame
  ): DataFrame = {
    // materialize the edge input once — it is referenced by the year-range
    // agg AND the distinct-edge filter, and its upstream is typically the
    // whole NER pipeline
    val e0 = edges.select(col("newspaper"), col("agency"), col("year"))
      .localCheckpoint(eager = false)
    val years = e0
      .agg(min(col("year")).as("y0"), max(col("year")).as("y1"))
      .select(explode(sequence(col("y0"), col("y1"))).as("year"))
      .localCheckpoint(eager = false)

    // materialized once (lazily — cached at the first consumer's job, no
    // dedicated materialization job each): these tiny (year, node) tables
    // are reused by the edge filter, the counts and the isolated-node
    // calc — without the checkpoint each reuse would re-evaluate the
    // dim's upstream (for npIntervals that is the whole NER pipeline)
    def existing(dim: DataFrame): DataFrame =
      years.join(broadcast(dim),
        col("year").between(col("start_year"), col("end_year")))
        .select(col("year"), col("node"))
        .localCheckpoint(eager = false)
    val agY = existing(agencyIntervals)
    val npY = existing(npIntervals)

    // distinct simple-graph edges of each year, endpoints existing
    val eY = e0.distinct()
      .join(broadcast(agY.select(col("year"), col("node").as("agency"))),
        Seq("year", "agency"), "left_semi")
      .join(broadcast(npY.select(col("year"), col("node").as("newspaper"))),
        Seq("year", "newspaper"), "left_semi")
      .localCheckpoint(eager = false)

    // composite (year|side|name) STRING keys solved by ONE CC run for all
    // years; runOnNames densifies them through a dictionary — collision-
    // free, unlike the previous xxhash64(key) whose 64-bit birthday bound
    // would silently merge components at north-rule node counts
    def nodeKey(side: String, node: Column): Column =
      concat_ws("|", col("year").cast("string"), lit(side), node)
    val ccEdges = eY.select(
      nodeKey("np", col("newspaper")).as("src"),
      nodeKey("ag", col("agency")).as("dst"))
    val labels = graft.canon.ConnectedComponents.runOnNames(ccEdges)
      .withColumnRenamed("name", "node")
    val yearOfNode = eY.select(col("year"), nodeKey("np", col("newspaper")).as("node"))
      .unionByName(eY.select(col("year"), nodeKey("ag", col("agency")).as("node")))
      .distinct()
    val edgeComps = labels.join(yearOfNode, "node")
      .groupBy(col("year"))
      .agg(countDistinct(col("component")).as("n_edge_components"))

    val nAg = agY.groupBy(col("year")).agg(count(lit(1)).as("n_ag"))
    val nNp = npY.groupBy(col("year")).agg(count(lit(1)).as("n_np"))
    val nEdges = eY.groupBy(col("year")).agg(count(lit(1)).as("n_edges"))
    val connectedCounts = yearOfNode.groupBy(col("year"))
      .agg(count(lit(1)).as("n_connected_nodes"))

    years
      .join(nAg, Seq("year"), "left")
      .join(nNp, Seq("year"), "left")
      .join(nEdges, Seq("year"), "left")
      .join(edgeComps, Seq("year"), "left")
      .join(connectedCounts, Seq("year"), "left")
      .na.fill(0L, Seq("n_ag", "n_np", "n_edges", "n_edge_components",
        "n_connected_nodes"))
      .withColumn("density",
        when(col("n_ag") > 0 && col("n_np") > 0,
          col("n_edges").cast("double") / (col("n_ag") * col("n_np")))
          .otherwise(0.0))
      .withColumn("n_components",
        col("n_edge_components") +
          (col("n_ag") + col("n_np") - col("n_connected_nodes")))
      .select(col("year"), col("n_ag"), col("n_np"), col("n_edges"),
        col("density"), col("n_components"))
  }

  /** A10: positional statistics — is the mention within the first/last 11
    * chars of the article, averaged per decade (reference
    * `helpersParsingResults.py:60-66`, `stats_training_corpus`). */
  def positionalStats(analytic: DataFrame, textLen: DataFrame): DataFrame =
    analytic
      .join(textLen, "url") // (url, text_len)
      .withColumn("near_start", (col("lOffset") < 11).cast("int"))
      .withColumn("near_end", (col("rOffset") > col("text_len") - 11).cast("int"))
      .groupBy(col("decade"))
      .agg(count(lit(1)).as("n"),
        avg(col("near_start")).as("frac_near_start"),
        avg(col("near_end")).as("frac_near_end"))

  /** Skew-aware variant of a hot-key count: salt the grouping key, partial
    * count per (key, salt), then merge. With partial aggregation Spark
    * already map-side-combines plain counts; the salted two-phase shape is
    * for aggregations whose state is NOT combine-friendly per key (e.g.
    * collect_set on Reuters-scale keys) and as the documented pattern
    * required by the north rule. */
  def saltedEdgeCounts(analytic: DataFrame, salts: Int = 16): DataFrame =
    analytic
      .withColumn("_salt", pmod(xxhash64(col("url")), lit(salts)))
      .groupBy(col("newspaper"), col("agency"), col("year"), col("_salt"))
      .agg(count(lit(1)).as("w"))
      .groupBy(col("newspaper"), col("agency"), col("year"))
      .agg(sum(col("w")).as("weight"))

  /** J2: normalize yearly edge weights by per-year corpus counts
    * (`network_analysis.ipynb cell 26`): `perc = weight / corpus * 100`. */
  def normalizeByCorpus(edges: DataFrame, corpusCounts: DataFrame): DataFrame =
    edges
      .join(broadcast(corpusCounts), Seq("year"))
      .withColumn("perc", col("weight") / col("corpus_count") * 100)

  /** Triples materialization (north rule):
    * `(article_url, mentions_agency, agency_qid)` and
    * `(agency_qid, alias, surface_form)`, with set semantics (a KG edge
    * set; occurrence weights live in [[yearlyEdges]]).
    *
    * Single-pass plan: each mention explodes into its two triples and one
    * `distinct` dedupes globally. The union-of-two-projections shape would
    * duplicate the NER subtree in the plan (Spark recomputes a shared
    * child per union branch unless cached) — at 100 TB that is the whole
    * inference cost paid twice. */
  def triples(mentions: Dataset[Mention]): Dataset[Triple] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    mentions.toDF()
      .where(linked)
      .select(explode(tripleStructs).as("t"))
      .select(col("t.subj").as("subj"), col("t.pred").as("pred"),
        col("t.obj").as("obj"))
      .distinct()
      .as[Triple]
  }

  /** The distinct triples of the mention rows an aggregate sees — the
    * rows of [[triples]] as `array<struct<subj, pred, obj>>`, or NULL once
    * a task sees more than its even share of `cap` distinct triples
    * ([[graft.functions.BoundedDistinctStructs]]). The partial buffers of
    * one stage hold at most `cap` triples together, so it can ride a
    * write as a `Dataset.observe` metric. */
  private[graft] def boundedTripleSet(cap: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.BoundedDistinctStructs(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          when(linked, tripleStructs)), cap)
        .toAggregateExpression())

  /** A mention whose triples enter the graph: one linked to an agency. */
  private def linked: Column = col("qid") =!= "NIL"

  /** A mention's two triples as `(subj, pred, obj)` structs. */
  private def tripleStructs: Column = array(
    struct(col("url").as("subj"),
      lit("mentions_agency").as("pred"),
      col("qid").as("obj")),
    struct(col("qid").as("subj"),
      lit("alias").as("pred"),
      col("surface").as("obj")))

  /** K3: GEXF export — collected driver-side AFTER thresholding (graphs are
    * ≤ thousands of edges, `network_analysis.ipynb cells 59-60`). */
  def toGexf(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String): String = {
    val rows = edges
      .select(col(srcCol).cast("string"), col(dstCol).cast("string"),
        col(weightCol).cast("double"))
      .collect()
    val nodes = rows.flatMap(r => Seq(r.getString(0), r.getString(1))).distinct.sorted
    val sb = new StringBuilder
    sb.append("""<?xml version="1.0" encoding="UTF-8"?>""").append('\n')
    sb.append("""<gexf xmlns="http://gexf.net/1.2" version="1.2">""").append('\n')
    sb.append("""  <graph defaultedgetype="undirected">""").append('\n')
    sb.append("    <nodes>\n")
    nodes.foreach { n =>
      sb.append(s"""      <node id="${xml(n)}" label="${xml(n)}"/>""").append('\n')
    }
    sb.append("    </nodes>\n    <edges>\n")
    rows.zipWithIndex.foreach { case (r, i) =>
      sb.append(
        s"""      <edge id="$i" source="${xml(r.getString(0))}" target="${xml(
            r.getString(1))}" weight="${r.getDouble(2)}"/>""").append('\n')
    }
    sb.append("    </edges>\n  </graph>\n</gexf>\n")
    sb.toString
  }

  // ---- attributed GEXF (reference `nx.write_gexf(G_yearly)` parity) ----

  /** Agency node attributes, mirroring `df_newsagencies`
    * (`network_analysis.ipynb cell 7`): languages the agency was mentioned
    * in (comma-joined, sorted here for determinism — pandas' set-insertion
    * order is itself nondeterministic), existence interval from the dim
    * (Havas/Europapress fixups live in the gazetteer constants), and the
    * QID; missing values fill 'unk' like the reference's `fillna`. */
  def agencyNodeAttrs(analytic: DataFrame): DataFrame = {
    val langs = analytic.groupBy(col("agency").as("node"))
      .agg(concat_ws(", ", sort_array(collect_set(col("lang"))))
        .as("language"))
    langs.join(
      broadcast(agencyDim(analytic.sparkSession)
        .withColumnRenamed("agency", "node")), Seq("node"), "left")
      .select(col("node"), lit(1).as("bipartite"),
        coalesce(col("start_year"), lit(1840)).as("start_year"),
        coalesce(col("end_year"), lit(2020)).as("end_year"),
        coalesce(col("language"), lit("unk")).as("language"),
        coalesce(col("qid"), lit("unk")).as("extra"))
  }

  /** Newspaper node attributes, mirroring `np_df`
    * (`network_analysis.ipynb cells 11-13`): per-newspaper language and
    * country (min for determinism — pandas `groupby.first` depends on row
    * order) plus the corpus-presence interval. */
  def newspaperNodeAttrs(analytic: DataFrame): DataFrame =
    analytic.groupBy(col("newspaper").as("node"))
      .agg(lit(0).as("bipartite"),
        min(col("year")).as("start_year"), max(col("year")).as("end_year"),
        min(col("lang")).as("language"),
        min(col("country")).as("extra"))

  /** GEXF export with the reference's node and edge attributes
    * (`nx.write_gexf(G_yearly)`, `network_analysis.ipynb cells 15-16,
    * 59-60`): per-node bipartite side, existence interval, language and
    * country/QID; per-edge year and decade (the yearly MultiGraph has one
    * edge per (np, agency, year)) with the weight on the edge element as
    * GEXF's native attribute.
    *
    * Driver-side by design, like [[toGexf]]: exports run on the
    * post-threshold edge list (thousands of rows), never the mention
    * table. */
  def toGexfYearly(
      yearlyEdges: DataFrame, // (newspaper, agency, year, weight, decade)
      npAttrs: DataFrame, // [[newspaperNodeAttrs]] shape
      agAttrs: DataFrame // [[agencyNodeAttrs]] shape
  ): String = {
    val rows = yearlyEdges
      .select(col("newspaper").cast("string"), col("agency").cast("string"),
        col("year").cast("int"), col("weight").cast("double"),
        col("decade").cast("int"))
      .orderBy(col("newspaper"), col("agency"), col("year"))
      .collect()
    def attrMap(df: DataFrame) = df
      .select(col("node").cast("string"), col("bipartite").cast("int"),
        col("start_year").cast("int"), col("end_year").cast("int"),
        col("language").cast("string"), col("extra").cast("string"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4), r.getString(5))))
      .toMap
    val np = attrMap(npAttrs)
    val ag = attrMap(agAttrs)
    val nodes = rows.flatMap(r => Seq(r.getString(0), r.getString(1)))
      .distinct.sorted
    // bipartite side from the edge position the node came from — the
    // honest fallback for a node missing from its attribute dimension
    val sideOf = rows.flatMap(r =>
      Seq(r.getString(0) -> 0, r.getString(1) -> 1)).toMap

    val sb = new StringBuilder
    sb.append("""<?xml version="1.0" encoding="UTF-8"?>""").append('\n')
    sb.append("""<gexf xmlns="http://gexf.net/1.2" version="1.2">""").append('\n')
    sb.append("""  <graph defaultedgetype="undirected">""").append('\n')
    sb.append("""    <attributes class="node">""").append('\n')
    Seq("bipartite" -> "integer", "start_year" -> "integer",
      "end_year" -> "integer", "language" -> "string", "extra" -> "string")
      .zipWithIndex.foreach { case ((t, ty), i) =>
        sb.append(s"""      <attribute id="$i" title="$t" type="$ty"/>""")
          .append('\n')
      }
    sb.append("    </attributes>\n")
    sb.append("""    <attributes class="edge">""").append('\n')
    sb.append("""      <attribute id="0" title="year" type="integer"/>""")
      .append('\n')
    sb.append("""      <attribute id="1" title="decade" type="integer"/>""")
      .append('\n')
    sb.append("    </attributes>\n    <nodes>\n")
    nodes.foreach { n =>
      val (bip, sy, ey, lang, extra) =
        np.get(n).orElse(ag.get(n))
          .getOrElse((sideOf(n), 1840, 2020, "unk", "unk"))
      sb.append(s"""      <node id="${xml(n)}" label="${xml(n)}">""")
        .append('\n')
      sb.append("        <attvalues>\n")
      Seq(bip.toString, sy.toString, ey.toString, lang, extra)
        .zipWithIndex.foreach { case (v, i) =>
          sb.append(s"""          <attvalue for="$i" value="${xml(v)}"/>""")
            .append('\n')
        }
      sb.append("        </attvalues>\n      </node>\n")
    }
    sb.append("    </nodes>\n    <edges>\n")
    rows.zipWithIndex.foreach { case (r, i) =>
      sb.append(s"""      <edge id="$i" source="${xml(r.getString(0))}" """ +
        s"""target="${xml(r.getString(1))}" weight="${r.getDouble(3)}">""")
        .append('\n')
      sb.append("        <attvalues>\n")
      sb.append(s"""          <attvalue for="0" value="${r.getInt(2)}"/>""")
        .append('\n')
      sb.append(s"""          <attvalue for="1" value="${r.getInt(4)}"/>""")
        .append('\n')
      sb.append("        </attvalues>\n      </edge>\n")
    }
    sb.append("    </edges>\n  </graph>\n</gexf>\n")
    sb.toString
  }

  private def xml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")
}
