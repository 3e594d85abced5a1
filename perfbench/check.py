"""Output checks, run with DuckDB after the timed region.

- `TableCheck` compares a written database with the generator's expected
  tables, as multisets (EXCEPT ALL both ways).
- `query_check` runs the reference's own SQL (README and sql_queries.md
  forms, WITH RECURSIVE included) over a written database and compares
  the engine's answer for the same call with it.
"""
import duckdb

TABLES = {
    "documents": "id, regexp_extract(filename, 'corpus/.*$', 0) "
                 "AS filename, file_hash, CAST(file_size AS BIGINT) AS "
                 "file_size",
    "nodes": "id, CAST(node_type AS VARCHAR) AS node_type, document_id, "
             "parent_id, CAST(position AS INTEGER) AS position, content, "
             "xpath",
    "node_properties": "node_id, property_name, property_value, data_type, "
                       "document_id",
    "cross_references": "source_node_id, target_node_id, reference_type, "
                        "attribute_name, confidence, "
                        "CAST(source_file AS VARCHAR) AS source_file",
}


def connect():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def scan(db, table):
    """The parquet scan of one table of a database the engine wrote."""
    if table == "nodes":
        return (f"read_parquet('{db}/nodes/*/*.parquet', "
                "hive_partitioning = true)")
    return f"read_parquet('{db}/{table}/*.parquet')"


class TableCheck:
    """The generator's expected tables, held in memory."""

    def __init__(self, con, model_dir):
        self.con = con
        for t in TABLES:
            cols = TABLES[t]
            if t == "cross_references":
                cols = cols.replace("CAST(source_file AS VARCHAR)",
                                    "CAST(NULL AS VARCHAR)")
            con.execute(f"CREATE OR REPLACE TABLE exp_{t} AS "
                        f"SELECT {cols} FROM read_parquet("
                        f"'{model_dir}/{t}.parquet')")

    def diff(self, db):
        """{table: (rows only in output, rows only in the model)}; empty
        when the database matches."""
        bad = {}
        for t, cols in TABLES.items():
            out = f"SELECT {cols} FROM {scan(db, t)}"
            exp = f"SELECT * FROM exp_{t}"
            extra = self.con.execute(
                f"SELECT count(*) FROM ({out} EXCEPT ALL {exp})").fetchone()[0]
            missing = self.con.execute(
                f"SELECT count(*) FROM ({exp} EXCEPT ALL {out})").fetchone()[0]
            if extra or missing:
                bad[t] = (extra, missing)
        return bad


def reference_sql(p):
    """The reference's SQL for each call of the query cycle, keyed like the
    engine's calls, with the same output column names."""
    lit = lambda v: "'" + v.replace("'", "''") + "'"
    return {
        # sql_queries.md:8-27
        "relationships_of": f"""
            SELECT CASE WHEN source_node_id = {lit(p['relationships_of'])}
                        THEN target_node_id ELSE source_node_id END
                     AS related_node,
                   reference_type,
                   CASE WHEN source_node_id = {lit(p['relationships_of'])}
                        THEN 'outgoing' ELSE 'incoming' END AS direction,
                   confidence
            FROM cross_references
            WHERE source_node_id = {lit(p['relationships_of'])}
               OR target_node_id = {lit(p['relationships_of'])}""",
        # sql_queries.md:30-37
        "direct_children": f"""
            SELECT cr.target_node_id AS child_id, n.node_type, n.content
            FROM cross_references cr JOIN nodes n ON cr.target_node_id = n.id
            WHERE cr.source_node_id = {lit(p['direct_children'])}
              AND cr.reference_type = 'parent_child'""",
        # sql_queries.md:40-46
        "siblings_of": f"""
            SELECT cr.target_node_id AS sibling_id, n.node_type, n.content
            FROM cross_references cr JOIN nodes n ON cr.target_node_id = n.id
            WHERE cr.source_node_id = {lit(p['siblings_of'])}
              AND cr.reference_type = 'sibling'""",
        # sql_queries.md:178-190
        "references_to": f"""
            SELECT cr.source_node_id, cr.attribute_name, cr.confidence,
                   n.node_type, n.content
            FROM cross_references cr JOIN nodes n ON cr.source_node_id = n.id
            WHERE cr.target_node_id = {lit(p['references_to'])}
              AND cr.reference_type = 'attribute_reference'
            ORDER BY cr.confidence DESC""",
        # README.md:150-156
        "search_by_attribute": f"""
            SELECT n.*, np.property_value
            FROM nodes n JOIN node_properties np ON n.id = np.node_id
            WHERE np.property_name = {lit(p['search_name'])}
              AND np.property_value = {lit(p['search_value'])}""",
        # test_sql_operations.rb:141-155
        "eav_conjunction": f"""
            SELECT DISTINCT n.id, n.node_type
            FROM nodes n
            JOIN node_properties np1 ON n.id = np1.node_id
            JOIN node_properties np2 ON n.id = np2.node_id
            WHERE np1.property_name = {lit(p['eav_name1'])}
              AND np1.property_value = {lit(p['eav_value1'])}
              AND np2.property_name = {lit(p['eav_name2'])}
              AND np2.data_type = {lit(p['eav_type2'])}""",
        # README.md:161
        "content_search": f"""
            SELECT * FROM nodes
            WHERE content LIKE {lit('%' + p['content_term'] + '%')}""",
        # test_sql_operations.rb:199-215
        "xpath_search": f"""
            SELECT * FROM nodes WHERE xpath LIKE {lit(p['xpath_pattern'])}
            ORDER BY id""",
        # test_sql_operations.rb:119-137
        "count_by_type": """
            SELECT node_type, COUNT(*) AS count FROM nodes
            GROUP BY node_type ORDER BY count DESC""",
        # main.rb:124-132
        "statistics": """
            SELECT COUNT(*) AS total_nodes,
                   COUNT(DISTINCT node_type) AS node_types,
                   COUNT(DISTINCT document_id) AS documents,
                   (SELECT COUNT(*) FROM cross_references) AS cross_refs
            FROM nodes""",
        # sql_queries.md:108-120
        "relationship_summary": """
            SELECT reference_type, COUNT(*) AS total_count,
                   ROUND(AVG(confidence), 9) AS avg_confidence,
                   MIN(confidence) AS min_confidence,
                   MAX(confidence) AS max_confidence,
                   COUNT(DISTINCT source_node_id) AS unique_sources,
                   COUNT(DISTINCT target_node_id) AS unique_targets
            FROM cross_references GROUP BY reference_type
            ORDER BY total_count DESC""",
        # sql_queries.md:123-141
        "relationship_counts": """
            SELECT n.id, n.node_type,
                   COALESCE(o.cnt, 0) AS outgoing_relationships,
                   COALESCE(i.cnt, 0) AS incoming_relationships,
                   COALESCE(o.cnt, 0) + COALESCE(i.cnt, 0)
                     AS total_relationships
            FROM nodes n
            LEFT JOIN (SELECT source_node_id, COUNT(*) AS cnt
                       FROM cross_references GROUP BY source_node_id) o
              ON n.id = o.source_node_id
            LEFT JOIN (SELECT target_node_id, COUNT(*) AS cnt
                       FROM cross_references GROUP BY target_node_id) i
              ON n.id = i.target_node_id
            ORDER BY total_relationships DESC""",
        # sql_queries.md:144-156; n.id breaks ties so the top 10 is one set
        "most_connected": """
            SELECT n.id, n.node_type, n.content,
                   COUNT(*) AS connection_count
            FROM nodes n
            JOIN cross_references cr
              ON n.id = cr.source_node_id OR n.id = cr.target_node_id
            GROUP BY n.id, n.node_type, n.content
            ORDER BY connection_count DESC, n.id LIMIT 10""",
        # sql_queries.md:159-174
        "bidirectional_pairs": """
            SELECT cr1.source_node_id AS node1_id,
                   cr1.target_node_id AS node2_id,
                   cr1.reference_type, cr1.confidence, cr1.attribute_name,
                   cr2.source_node_id IS NOT NULL AS is_bidirectional
            FROM cross_references cr1
            LEFT JOIN cross_references cr2
              ON cr1.source_node_id = cr2.target_node_id
             AND cr1.target_node_id = cr2.source_node_id
             AND cr1.reference_type = cr2.reference_type
            WHERE cr2.source_node_id IS NOT NULL""",
        # sql_queries.md:193-199
        "broken_references": """
            SELECT DISTINCT cr.target_node_id AS missing_node_id
            FROM cross_references cr LEFT JOIN nodes n
              ON cr.target_node_id = n.id
            WHERE n.id IS NULL""",
        # sql_queries.md:51-74 (the seed is the node itself, once)
        "ancestors": f"""
            WITH RECURSIVE ancestors(node_id, depth, path) AS (
              SELECT DISTINCT target_node_id, 0, target_node_id
              FROM cross_references
              WHERE target_node_id = {lit(p['ancestors_of'])}
                AND reference_type = 'parent_child'
              UNION ALL
              SELECT cr.source_node_id, a.depth + 1,
                     cr.source_node_id || ' -> ' || a.path
              FROM cross_references cr JOIN ancestors a
                ON cr.target_node_id = a.node_id
              WHERE cr.reference_type = 'parent_child' AND a.depth < 10)
            SELECT node_id AS ancestor_id, depth, path FROM ancestors
            WHERE depth > 0 ORDER BY depth""",
        # sql_queries.md:79-103
        "descendants": f"""
            WITH RECURSIVE descendants(node_id, depth, path) AS (
              SELECT DISTINCT source_node_id, 0, source_node_id
              FROM cross_references
              WHERE source_node_id = {lit(p['descendants_of'])}
                AND reference_type = 'parent_child'
              UNION ALL
              SELECT cr.target_node_id, d.depth + 1,
                     d.path || ' -> ' || cr.target_node_id
              FROM cross_references cr JOIN descendants d
                ON cr.source_node_id = d.node_id
              WHERE cr.reference_type = 'parent_child' AND d.depth < 10)
            SELECT node_id AS descendant_id, depth, path FROM descendants
            WHERE depth > 0 ORDER BY depth, descendant_id""",
        # README.md:138-146
        "node_tree": """
            WITH RECURSIVE node_tree AS (
              SELECT id, node_type, parent_id, content, 0 AS level
              FROM nodes WHERE parent_id IS NULL
              UNION ALL
              SELECT n.id, n.node_type, n.parent_id, n.content, nt.level + 1
              FROM nodes n JOIN node_tree nt ON n.parent_id = nt.id)
            SELECT * FROM node_tree ORDER BY level, id""",
        # sql_queries.md:210-235
        "hierarchical_paths": """
            WITH RECURSIVE hierarchical_paths(descendant_id, ancestor_id,
                                              depth, path) AS (
              SELECT target_node_id, source_node_id, 1,
                     source_node_id || ' -> ' || target_node_id
              FROM cross_references WHERE reference_type = 'parent_child'
              UNION ALL
              SELECT hp.descendant_id, cr.source_node_id, hp.depth + 1,
                     cr.source_node_id || ' -> ' || hp.path
              FROM hierarchical_paths hp JOIN cross_references cr
                ON hp.ancestor_id = cr.target_node_id
              WHERE cr.reference_type = 'parent_child' AND hp.depth < 10)
            SELECT * FROM hierarchical_paths""",
    }


def open_database(con, db):
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM {scan(db, t)}")


def query_check(con, name, sql, result_dir):
    """(rows in the engine's answer, rows that differ from the reference's
    answer in either direction)."""
    eng = f"read_parquet('{result_dir}/*.parquet')"
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {eng}")
            .fetchall()]
    proj = ", ".join(
        f'ROUND("{c}", 9) AS "{c}"' if c == "avg_confidence" else f'"{c}"'
        for c in cols)
    e = f"SELECT {proj} FROM {eng}"
    r = f"SELECT {proj} FROM ({sql})"
    rows = con.execute(f"SELECT count(*) FROM {eng}").fetchone()[0]
    d = con.execute(f"SELECT (SELECT count(*) FROM ({e} EXCEPT ALL {r})) + "
                    f"(SELECT count(*) FROM ({r} EXCEPT ALL {e}))").fetchone()[0]
    return rows, d
