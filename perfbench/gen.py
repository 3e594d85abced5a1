"""Seeded input generator for the benchmark.

Writes, under an output directory:

  corpus/   the XML corpus every workload converts
  model/    the expected answers, computed from what was generated:
              <table>.parquet  tables a conversion of corpus/ must give
              model.json       summary counts and the seeded query parameters

The expected tables come from a small reference model of the engine's
documented semantics (README of the engine and XmlIngest/Converter
scaladoc): only id-bearing elements are nodes, `parent_id` is the
immediate parent's id, `position` the index among element siblings,
`content` the non-blank descendant text, stripped; last write wins on
`id` and then on the (parent_id, position) slot, ordered by
(filename, document order); truncated files keep their parseable prefix
and files with no root are skipped. Edges follow the structural and
attribute-reference adapters with the reference's confidence constants.

Usage: python3 perfbench/gen.py --seed N --out DIR
"""
import argparse
import hashlib
import json
import os
import random
import re
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

# --- corpus make-up (see README.md) -----------------------------------
N_FLAT = 80           # small flat files: per-file overhead
FLAT_RECORDS = (4, 8)
N_LARGE = 2           # large files: per-byte parsing
LARGE_SECTIONS = 16
LARGE_ENTRIES = (12, 16)
N_DEEP = 2            # deep chains: descendant-text walk per level
DEEP_DEPTH = (210, 230)
N_WIDE = 2            # wide sibling families: pair join
WIDE_FAMILY = (100, 110)
N_DUP = 3             # ids restated across files: last write wins
N_TRUNC = 3           # truncated files: salvage path
N_NOROOT = 2          # files with no root: skipped

WORDS = ("graph node edge table query index parquet spark schema xml "
         "archive record entry section author review quantum river stone "
         "signal market harbor garden lantern copper meadow falcon winter "
         "circuit ledger beacon orchard canyon velvet").split()
CATEGORIES = ["cat_fiction", "cat_history", "cat_science", "cat_travel",
              "cat_poetry", "cat_law"]
STATUSES = ["active", "archived", "draft", "retired"]

JAVA_WS = "".join(chr(i) for i in range(33))  # String.trim's set


# --- a tiny DOM the generator serializes and models -------------------
class El:
    __slots__ = ("name", "attrs", "children")

    def __init__(self, name, attrs=None, children=None):
        self.name = name
        self.attrs = attrs or {}
        self.children = children or []

    def add(self, child):
        self.children.append(child)
        return child


def esc_text(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def esc_attr(s):
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace('"', "&quot;"))


def serialize(el, out, indent=0):
    """Pretty-print element-only content; write mixed content inline, so
    every text node is exactly one text string the model knows."""
    attrs = "".join(f' {k}="{esc_attr(v)}"' for k, v in el.attrs.items())
    if not el.children:
        out.append(f"<{el.name}{attrs}/>")
        return
    out.append(f"<{el.name}{attrs}>")
    mixed = any(isinstance(c, str) for c in el.children)
    for c in el.children:
        if isinstance(c, str):
            out.append(esc_text(c))
        else:
            if not mixed:
                out.append("\n" + "  " * (indent + 1))
            serialize(c, out, indent + 1)
    if not mixed:
        out.append("\n" + "  " * indent)
    out.append(f"</{el.name}>")


def to_xml(root):
    out = ['<?xml version="1.0" encoding="UTF-8"?>\n']
    serialize(root, out)
    out.append("\n")
    return "".join(out)


# --- the reference model of ingest -----------------------------------
INT_RE = re.compile(r"^\d+$", re.ASCII)
FLOAT_RE = re.compile(r"^\d+\.\d+$", re.ASCII)
BOOL_RE = re.compile(r"^(true|false)$", re.ASCII | re.IGNORECASE)
DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}", re.ASCII)
TIME_RE = re.compile(r"^\d{2}:\d{2}:\d{2}", re.ASCII)


def infer_type(v):
    if v is None or v == "":
        return "string"
    if INT_RE.search(v):
        return "integer"
    if FLOAT_RE.search(v):
        return "float"
    if BOOL_RE.search(v):
        return "boolean"
    if DATE_RE.search(v) or TIME_RE.search(v):
        return "datetime"
    return "string"


def text_of(el, buf):
    for c in el.children:
        if isinstance(c, str):
            if c.strip(JAVA_WS):
                buf.append(c)
        else:
            text_of(c, buf)


def raw_rows(rel, doc_id, root):
    """Rows the parser emits for one file, in document order."""
    nodes, props = [], []

    def walk(e, parent, xpath, position):
        if "id" in e.attrs:
            buf = []
            text_of(e, buf)
            ordinal = len(nodes)
            pid = parent.attrs.get("id") if parent is not None else None
            nodes.append(dict(id=e.attrs["id"], node_type=e.name,
                              document_id=doc_id, parent_id=pid,
                              position=position,
                              content="".join(buf).strip(JAVA_WS),
                              xpath=xpath, filename=rel, ordinal=ordinal))
            for k, v in e.attrs.items():
                if k != "id":
                    props.append(dict(node_id=e.attrs["id"], property_name=k,
                                      property_value=v,
                                      data_type=infer_type(v),
                                      document_id=doc_id, filename=rel,
                                      ordinal=ordinal))
        kids = [c for c in e.children if isinstance(c, El)]
        totals = defaultdict(int)
        for c in kids:
            totals[c.name] += 1
        seen = defaultdict(int)
        for idx, c in enumerate(kids):
            seen[c.name] += 1
            seg = f"{c.name}[{seen[c.name]}]" if totals[c.name] > 1 else c.name
            walk(c, e, f"{xpath}/{seg}", idx)

    walk(root, None, f"/{root.name}", 0)
    return nodes, props


def latest(rows, key, order):
    best = {}
    for r in rows:
        k = key(r)
        if k not in best or order(r) > order(best[k]):
            best[k] = r
    return list(best.values())


def arrival(r):
    return (r["filename"], r["ordinal"])


def slot(r):
    return (r["parent_id"], r["position"],
            r["id"] if r["parent_id"] is None else None)


def ingest(files):
    """files: list of (rel_path, doc_id, bytes, tree-or-None) in any order.
    Returns deduplicated documents, nodes, properties + counts."""
    docs, raw_n, raw_p, skipped = [], [], [], 0
    for rel, doc_id, data, tree in files:
        if tree is None:
            skipped += 1
            continue
        docs.append(dict(id=doc_id, filename=rel,
                         file_hash=hashlib.md5(data).hexdigest(),
                         file_size=len(data)))
        n, p = raw_rows(rel, doc_id, tree)
        raw_n += n
        raw_p += p
    docs = latest(docs, lambda r: r["id"], lambda r: r["filename"])
    by_id = latest(raw_n, lambda r: r["id"], arrival)
    nodes = latest(by_id, slot, arrival)
    props = latest(raw_p, lambda r: (r["node_id"], r["property_name"]),
                   arrival)
    return docs, nodes, props, dict(raw_nodes=len(raw_n), skipped=skipped,
                                    files=len(files))


# --- the reference model of the core adapters ------------------------
ID_RES = [re.compile(r"^[a-zA-Z_][a-zA-Z0-9_]*$"),
          re.compile(r"^[a-zA-Z]+_\d+$", re.ASCII),
          re.compile(r"^[a-zA-Z0-9]+(-[a-zA-Z0-9]+)*$")]
PREFIXED_RE = re.compile(r"^[a-zA-Z]+_[a-zA-Z0-9]+$")
INDICATORS = ["id", "ref", "reference", "parent", "child", "target",
              "source", "link"]


def structural(nodes):
    edges = []
    fams = defaultdict(list)
    for n in nodes:
        if n["parent_id"] is not None:
            edges.append((n["parent_id"], n["id"], "parent_child", None, 1.0))
            edges.append((n["id"], n["parent_id"], "child_parent", None, 1.0))
            fams[(n["document_id"], n["parent_id"])].append(n)
    for fam in fams.values():
        for a in fam:
            for b in fam:
                if a["position"] < b["position"]:
                    edges.append((a["id"], b["id"], "sibling", None, 1.0))
                    edges.append((b["id"], a["id"], "sibling", None, 1.0))
                    if b["position"] - a["position"] == 1:
                        edges.append((a["id"], b["id"], "next_sibling",
                                      None, 1.0))
                        edges.append((b["id"], a["id"], "previous_sibling",
                                      None, 1.0))
    return edges, fams


def attribute_refs(nodes, props):
    ids = {(n["document_id"], n["id"]) for n in nodes}
    edges = []
    for p in props:
        v = p["property_value"]
        if not v or not any(r.search(v) for r in ID_RES):
            continue
        if (p["document_id"], v) not in ids:
            continue
        name = p["property_name"].lower()
        conf = (0.8 + (0.15 if any(i in name for i in INDICATORS) else 0.0)
                + (0.05 if PREFIXED_RE.search(v) else 0.0))
        edges.append((p["node_id"], v, "attribute_reference",
                      p["property_name"], min(1.0, conf)))
    return edges


def family_counts(fams):
    """Structural edge counts from family sizes alone."""
    c = defaultdict(int)
    for fam in fams.values():
        f = len(fam)
        pos = sorted(n["position"] for n in fam)
        adj = sum(1 for a, b in zip(pos, pos[1:]) if b - a == 1)
        c["parent_child"] += f
        c["child_parent"] += f
        c["sibling"] += f * (f - 1)
        c["next_sibling"] += adj
        c["previous_sibling"] += adj
    return dict(c)


def convert(files):
    docs, nodes, props, counts = ingest(files)
    s_edges, fams = structural(nodes)
    a_edges = attribute_refs(nodes, props)
    return docs, nodes, props, s_edges + a_edges, counts, fams


# --- corpus construction ----------------------------------------------
def words(rng, lo, hi):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def rand_date(rng):
    return (f"{rng.randint(1990, 2024)}-{rng.randint(1, 12):02d}-"
            f"{rng.randint(1, 28):02d}")


def flat_doc(rng, k, n_rec):
    doc = f"f{k:04d}"
    root = El("records", {"id": doc, "source": "flat",
                          "created": rand_date(rng)})
    rec_ids = [f"rec_{doc}x{i}" for i in range(n_rec)]
    for i, rid in enumerate(rec_ids):
        attrs = {"id": rid,
                 "category": rng.choice(CATEGORIES),
                 "status": rng.choice(STATUSES),
                 "count": str(rng.randint(0, 999)),
                 "score": f"{rng.randint(0, 9)}.{rng.randint(0, 99):02d}",
                 "visible": rng.choice(["true", "false", "TRUE"]),
                 "date": rand_date(rng)}
        if i > 0 and rng.random() < 0.6:      # resolvable, same document
            attrs["ref_id"] = rec_ids[rng.randrange(i)]
        if rng.random() < 0.3:                # identifier, no such node
            attrs["link"] = f"ghost_{rng.randint(0, 99999)}"
        if rng.random() < 0.2:                # id in another document
            attrs["see"] = f"rec_f{rng.randrange(N_FLAT):04d}x0"
        rec = El("record", attrs)
        rec.add(words(rng, 3, 10) + (" R&D" if rng.random() < 0.1 else ""))
        if rng.random() < 0.5:
            rec.add(El("note", {}, [words(rng, 2, 5)]))
        root.add(rec)
        if rng.random() < 0.25:               # id-less sibling: position gap
            root.add(El("spacer", {"kind": "gap"}))
    return doc, root


def large_doc(rng, k):
    doc = f"big_{k:02d}"
    root = El("archive", {"id": doc, "edition": str(rng.randint(1, 9))})
    for s in range(LARGE_SECTIONS):
        sid = f"{doc}_s{s}"
        sec = root.add(El("section", {"id": sid, "title": words(rng, 1, 3),
                                      "year": str(rng.randint(1900, 2024))}))
        n = rng.randint(*LARGE_ENTRIES)
        for e in range(n):
            eid = f"{sid}_e{e}"
            attrs = {"id": eid, "score": f"{rng.randint(0, 9)}.5",
                     "published": rand_date(rng),
                     "flag": rng.choice(["true", "false"])}
            if e > 0:
                attrs["author_id"] = f"{sid}_e{rng.randrange(e)}"
            ent = sec.add(El("entry", attrs))
            ent.add(El("meta", {"lang": "en"}, [words(rng, 2, 4)]))
            ent.add(El("body", {}, [words(rng, 40, 70)]))
    return doc, root


def deep_doc(rng, k):
    doc = f"deep_{k:02d}"
    depth = rng.randint(*DEEP_DEPTH)
    root = El("level", {"id": f"{doc}_L0", "depth": "0"})
    cur = root
    for i in range(1, depth):
        cur.add(f"t{i} {rng.choice(WORDS)}")
        cur = cur.add(El("level", {"id": f"{doc}_L{i}", "depth": str(i)}))
    cur.add("bottom")
    return doc, root


def wide_doc(rng, k):
    doc = f"wide_{k:02d}"
    root = El("family", {"id": doc})
    f = rng.randint(*WIDE_FAMILY)
    for i in range(f):
        root.add(El("member", {"id": f"{doc}_m{i}",
                               "rank": str(rng.randint(1, 100))},
                    [rng.choice(WORDS)]))
        if rng.random() < 0.1:
            root.add(El("divider", {}))
    return doc, root


def dup_docs(rng):
    """Files restating one catalog: later files replace items by id and
    evict other items from their (parent, position) slots."""
    n_items = rng.randint(8, 12)
    out = []
    for d in range(N_DUP):
        doc = f"dup_{d}"
        root = El("catalog", {"id": "shared_cat", "version": str(d)})
        for pos in range(n_items if d == 0 else rng.randint(3, n_items)):
            r = rng.random()
            if d == 0 or r < 0.5:
                iid = f"shared_i{pos}"                 # restated id
            else:
                iid = f"item_{doc}p{pos}"              # evicts the slot
            attrs = {"id": iid, "price": f"{rng.randint(1, 99)}.99",
                     "status": rng.choice(STATUSES)}
            if d > 0 and pos > 0 and rng.random() < 0.5:
                attrs["parent_ref"] = "shared_cat"
            root.add(El("item", attrs, [words(rng, 2, 6)]))
        if d == N_DUP - 1:                             # same id twice in file
            root.add(El("item", {"id": "shared_i0", "price": "0.99",
                                 "status": "final"}, ["restated twice"]))
        out.append((doc, root))
    return out


def truncated_doc(rng, k):
    """A flat document cut after the close tag of one of its records."""
    doc = f"trunc_{k}"
    root = El("records", {"id": doc})
    n = rng.randint(4, 7)
    for i in range(n):
        root.add(El("record", {"id": f"{doc}_r{i}",
                               "count": str(rng.randint(0, 99))},
                    [words(rng, 2, 6)]))
    keep = rng.randint(1, n - 1)
    text = to_xml(root)
    cut = 0
    for _ in range(keep):
        cut = text.index("</record>", cut) + len("</record>")
    kept = El("records", dict(root.attrs), root.children[:keep])
    return doc, text[:cut], kept


# --- writing ------------------------------------------------------------
def write_file(base, rel, text):
    path = os.path.join(base, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = text.encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return data


NODE_SCHEMA = pa.schema([("id", pa.string()), ("node_type", pa.string()),
                         ("document_id", pa.string()),
                         ("parent_id", pa.string()),
                         ("position", pa.int32()), ("content", pa.string()),
                         ("xpath", pa.string())])
PROP_SCHEMA = pa.schema([("node_id", pa.string()),
                         ("property_name", pa.string()),
                         ("property_value", pa.string()),
                         ("data_type", pa.string()),
                         ("document_id", pa.string())])
DOC_SCHEMA = pa.schema([("id", pa.string()), ("filename", pa.string()),
                        ("file_hash", pa.string()),
                        ("file_size", pa.int64())])
XREF_SCHEMA = pa.schema([("source_node_id", pa.string()),
                         ("target_node_id", pa.string()),
                         ("reference_type", pa.string()),
                         ("attribute_name", pa.string()),
                         ("confidence", pa.float64())])


def write_table(path, rows, schema):
    cols = {f.name: [r[f.name] for r in rows] for f in schema}
    pq.write_table(pa.table(cols, schema=schema), path)


def write_model(model_dir, docs, nodes, props, xrefs):
    names = [f.name for f in XREF_SCHEMA]
    for table, rows, schema in (
            ("documents", docs, DOC_SCHEMA), ("nodes", nodes, NODE_SCHEMA),
            ("node_properties", props, PROP_SCHEMA),
            ("cross_references", [dict(zip(names, e)) for e in xrefs],
             XREF_SCHEMA)):
        write_table(os.path.join(model_dir, f"{table}.parquet"), rows, schema)


def by_type(rows, key):
    c = defaultdict(int)
    for r in rows:
        c[r[key]] += 1
    return dict(sorted(c.items()))


def query_params(rng, nodes, props, xrefs):
    """Seeded parameters for the query cycle, each chosen so the call has
    a non-empty answer on the converted corpus."""
    node = {n["id"]: n for n in nodes}
    children = defaultdict(list)
    for n in nodes:
        if n["parent_id"] is not None:
            children[n["parent_id"]].append(n["id"])
    ref_targets = sorted({e[1] for e in xrefs
                          if e[2] == "attribute_reference"})
    wide_members = sorted(n["id"] for n in nodes
                          if n["node_type"] == "member")
    deep = sorted((n for n in nodes if n["node_type"] == "level"
                   and 40 < int(n["id"].rsplit("_L", 1)[1]) < 200),
                  key=lambda n: n["id"])
    with_kids = sorted(i for i, k in children.items() if len(k) >= 3
                       and i in node)
    cat = rng.choice(sorted({p["property_value"] for p in props
                             if p["property_name"] == "category"}))
    dated = sorted({p["node_id"] for p in props
                    if p["property_name"] == "date"})
    eav_node = rng.choice(dated)
    eav_status = next(p["property_value"] for p in props
                      if p["node_id"] == eav_node
                      and p["property_name"] == "status")
    sec = rng.choice(sorted(n["xpath"] for n in nodes
                            if n["node_type"] == "section"))
    return {
        "relationships_of": rng.choice(sorted(node)),
        "direct_children": rng.choice(with_kids),
        "siblings_of": rng.choice(wide_members),
        "references_to": rng.choice(ref_targets),
        "search_name": "category",
        "search_value": cat,
        "eav_name1": "status",
        "eav_value1": eav_status,
        "eav_name2": "date",
        "eav_type2": "datetime",
        "content_term": rng.choice(WORDS),
        "xpath_pattern": sec + "/entry[%",
        "ancestors_of": rng.choice(deep)["id"],
        "descendants_of": rng.choice(deep)["id"],
    }


def generate(seed, out):
    rng = random.Random(seed)
    model_dir = os.path.join(out, "model")
    os.makedirs(model_dir, exist_ok=True)
    # rel paths start with corpus/: the engine's `filename` is
    # the absolute path, and its suffix from there on is compared
    files = []        # (rel, doc_id, bytes, tree-or-None)

    def add(rel, doc, root):
        rel = "corpus/" + rel
        files.append((rel, doc, write_file(out, rel, to_xml(root)), root))

    for k in range(N_FLAT):
        doc, root = flat_doc(rng, k, rng.randint(*FLAT_RECORDS))
        add(f"flat/{doc}.xml", doc, root)
    for k in range(N_LARGE):
        doc, root = large_doc(rng, k)
        add(f"large/{doc}.xml", doc, root)
    for k in range(N_DEEP):
        doc, root = deep_doc(rng, k)
        add(f"deep/{doc}.xml", doc, root)
    for k in range(N_WIDE):
        doc, root = wide_doc(rng, k)
        add(f"wide/{doc}.xml", doc, root)
    for doc, root in dup_docs(rng):
        add(f"dup/{doc}.xml", doc, root)
    for k in range(N_TRUNC):
        doc, text, kept = truncated_doc(rng, k)
        rel = f"corpus/bad/{doc}.xml"
        files.append((rel, doc, write_file(out, rel, text), kept))
    noroot = ['<?xml version="1.0" encoding="UTF-8"?>\n<!-- no root -->\n',
              "plain text, not markup\n"]
    for k in range(N_NOROOT):
        rel = f"corpus/bad/noroot_{k}.xml"
        files.append((rel, f"noroot_{k}",
                      write_file(out, rel, noroot[k % 2]), None))

    docs, nodes, props, xrefs, counts, fams = convert(files)
    write_model(model_dir, docs, nodes, props, xrefs)

    fam = family_counts(fams)
    listed = by_type([{"t": e[2]} for e in xrefs], "t")
    assert all(listed.get(t, 0) == c for t, c in fam.items()), (fam, listed)
    xml_bytes = sum(len(f[2]) for f in files)
    model = {
        "seed": seed,
        "files": counts["files"],
        "files_skipped": counts["skipped"],
        "input_bytes": xml_bytes,
        "raw_nodes": counts["raw_nodes"],
        "nodes_by_type": by_type(nodes, "node_type"),
        "properties_by_data_type": by_type(props, "data_type"),
        "structural_edges_from_families": fam,
        "attribute_references": sum(1 for e in xrefs
                                    if e[2] == "attribute_reference"),
        "edges_by_type": listed,
        "params": query_params(rng, nodes, props, xrefs),
    }
    with open(os.path.join(model_dir, "model.json"), "w") as f:
        json.dump(model, f, indent=1, sort_keys=True)
    with open(os.path.join(out, "params.properties"), "w") as f:
        for k, v in sorted(model["params"].items()):
            f.write(f"{k}={v}\n")
    return model


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    m = generate(a.seed, a.out)
    print(json.dumps({k: m[k] for k in ("files", "files_skipped",
                                        "input_bytes", "raw_nodes")}))


if __name__ == "__main__":
    main()
