"""TMCF template × CSV table → instance statements (template expansion).

Re-expresses the reference's TmcfCsvParser (T1/T2,
TmcfCsvParser.java:125-375):

- A Template MCF names entities ``E:Table->En`` and columns
  ``C:Table->col`` (McfParser.java:339-357, Vocabulary.java:194-197);
  per CSV row each template entity is instantiated into an instance
  node named ``<Table>/<En>/<rowid>`` (TmcfCsvParser.java:359-374),
  with deterministic row ids (TEST-mode row numbers,
  TmcfCsvParser.java:41,137).
- dcid-first two-pass per row (T2, TmcfCsvParser.java:156-230):
  entities whose template carries an explicit ``dcid`` column get that
  dcid; other-entity references substitute the target's dcid when it
  has one, else a local ``l:`` ref for the resolver.
- Multi-value cells are split quote/escape-aware (P2,
  StringUtil.java:182-218) and each value typed-value parsed (P1).

The template compiles on the driver into two JVM projections, cached
per template and CSV header: the first parses each used cell once
(``col_split_and_strip`` then ``col_parse_typed_value``, the Column
twins of P2 and P1), the second builds one array of statement structs
per row, which ``inline`` turns into rows. No Python worker runs; the
Spark analogue of the reference's thread-per-file RowProcessor is the
scan's tasks.
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from import_spark import vocabulary as V
from import_spark.functions.values import (
    col_parse_typed_value,
    col_split_and_strip,
    parse_typed_value,
    split_and_strip,
)

_ENTITY_RE = re.compile(r"^E:([^->]+)->(.+)$")
_COLUMN_RE = re.compile(r"^C:([^->]+)->(.+)$")


@dataclass
class TemplateNode:
    table: str
    entity: str  # e.g. E0
    # (prop, kind, payload): kind CONST keeps payload as the raw value,
    # COLUMN reads payload column, ENTITY references payload entity name
    terms: list[tuple[str, str, str]] = field(default_factory=list)


def parse_tmcf(text: str) -> list[TemplateNode]:
    """Template MCF → compiled template (driver-side; templates are tiny)."""
    nodes: dict[str, TemplateNode] = {}
    order: list[str] = []
    cur: TemplateNode | None = None
    for block in text.split("\n\n"):
        for raw in block.split("\n"):
            line = raw.strip()
            if not line or line.startswith("#") or line.startswith("//"):
                continue
            prop, _, rest = line.partition(":")
            prop, rest = prop.strip(), rest.strip()
            if prop == "Node":
                m = _ENTITY_RE.match(rest)
                if not m:
                    cur = None
                    continue
                cur = TemplateNode(table=m.group(1), entity=m.group(2))
                nodes[m.group(2)] = cur
                order.append(m.group(2))
                continue
            if cur is None:
                continue
            vals = split_and_strip(rest, strip_enclosing_quotes=False)
            for v in vals or []:
                em = _ENTITY_RE.match(v)
                cm = _COLUMN_RE.match(v)
                if em:
                    cur.terms.append((prop, "ENTITY", em.group(2)))
                elif cm:
                    cur.terms.append((prop, "COLUMN", cm.group(2)))
                else:
                    cur.terms.append((prop, "CONST", v))
    return [nodes[k] for k in order]


def _col(name: str) -> Column:
    """A CSV column by its exact header, dots and backticks included."""
    return F.col("`" + name.replace("`", "``") + "`")


@functools.lru_cache(maxsize=16)
def _expansion(
    tmcf_text: str, columns: tuple[str, ...], row_id_col: str
) -> tuple[list[Column], Column]:
    """The two projections of ``expand_template`` for one template over
    one CSV header: the per-cell parse (row id, dcid cells, typed
    multi-value arrays), then ``inline`` over each row's array of
    statement structs.

    Built once per ``(tmcf_text, columns, row_id_col)``: the Column
    trees cost hundreds of py4j calls, and a warm genmcf call reuses
    them."""
    present = set(columns)
    no_values = F.array().cast("array<string>")
    parse = [_col(row_id_col).cast("string").alias("_rid")]
    cells: dict[tuple[str, bool], Column] = {}

    def cell_values(column: str, prop: str) -> Column:
        # typed values depend on the prop only through is_reference_property
        key = (column, V.is_reference_property(prop))
        if key not in cells:
            name = f"_v{len(parse)}"
            split = F.coalesce(col_split_and_strip(_col(column).cast("string")), no_values)
            typed = F.transform(split, lambda s: col_parse_typed_value(prop, s))
            parse.append(F.filter(typed, lambda t: t.value_type.isNotNull()).alias(name))
            cells[key] = F.col(name)
        return cells[key]

    template = parse_tmcf(tmcf_text)
    # pass 1: node ids (dcid-first, TmcfCsvParser.java:156-230).
    # An entity whose template maps ``dcid`` but whose cell is empty (or
    # whose column is missing) is SKIPPED for that row, and E: refs to
    # it are dropped — TmcfCsvParser.java:196-199 ("Case of
    # malformed/empty DCID. SKip this node") and :268-280
    # (CSV_EmptyDcidReferences drops the ref value). Verified against
    # the reference's McfResolverTest_TmcfCsv golden.
    ids: dict[str, tuple[Column, Column, Column]] = {}  # entity → (node id, has dcid, emits)
    for tn in template:
        fallback = F.concat(F.lit(f"{tn.table}/{tn.entity}/"), F.col("_rid"))
        dcid_col = next((p for pr, k, p in tn.terms if pr == "dcid" and k == "COLUMN"), None)
        dcid_const = next((p for pr, k, p in tn.terms if pr == "dcid" and k == "CONST"), None)
        if dcid_col in present:
            name = f"_v{len(parse)}"
            cell = _col(dcid_col).cast("string")
            parse.append(F.when(cell != "", col_parse_typed_value("dcid", cell).value).alias(name))
            has_dcid = F.col(name).isNotNull()
            ids[tn.entity] = (F.coalesce(F.col(name), fallback), has_dcid, has_dcid)
        elif dcid_const:
            tv = parse_typed_value("dcid", dcid_const)
            const = tv[1] if tv else None
            has_dcid = F.lit(const is not None)
            ids[tn.entity] = (F.lit(const) if const else fallback, has_dcid, has_dcid)
        else:
            # a dcid column the CSV lacks: the reference logs
            # CSV_TmcfMissingColumn and skips the node
            emits = F.lit(dcid_col is None)
            ids[tn.entity] = (fallback, F.lit(False), emits)

    def stmt(nid, prop, vt, val) -> Column:
        return F.struct(
            nid.alias("node_id"),
            F.lit(prop).alias("prop"),
            vt.alias("value_type"),
            val.alias("value"),
            F.lit("").alias("src_file"),
        )

    # pass 2: one statement struct per (row, template term, value); a
    # null struct is a statement the row does not emit
    singles: list[Column] = []
    multi: list[Column] = []
    for tn in template:
        nid, has_dcid, emits = ids[tn.entity]
        # template-assigned dcids stay as a PV on the node (the
        # reference's dcid-first pass keeps Vocabulary.DCID among the
        # node's PVs, which McfResolver.assignDcids checks —
        # TmcfCsvParser.java:156-230, McfResolver.java:190-193)
        singles.append(F.when(has_dcid, stmt(nid, "dcid", F.lit("TEXT"), nid)))
        for prop, kind, payload in tn.terms:
            if prop == "dcid":
                continue
            if kind == "CONST":
                tv = parse_typed_value(prop, payload)
                if tv:
                    singles.append(F.when(emits, stmt(nid, prop, F.lit(tv[0]), F.lit(tv[1]))))
            elif kind == "ENTITY" and payload in ids:
                # refs to a dcid-skipped target row are DROPPED
                # (CSV_EmptyDcidReferences, TmcfCsvParser.java:268-280)
                tgt, tgt_dcid, tgt_emits = ids[payload]
                vt = F.when(tgt_dcid, "RESOLVED_REF").otherwise("UNRESOLVED_REF")
                val = F.when(tgt_dcid, tgt).otherwise(F.concat(F.lit("l:"), tgt))
                singles.append(F.when(emits & tgt_emits, stmt(nid, prop, vt, val)))
            elif kind == "ENTITY":
                ref = F.lit(f"l:{payload}")
                singles.append(F.when(emits, stmt(nid, prop, F.lit("UNRESOLVED_REF"), ref)))
            elif payload in present:
                multi.append(
                    F.transform(
                        cell_values(payload, prop),
                        lambda t: F.when(emits, stmt(nid, prop, t.value_type, t.value)),
                    )
                )
    statements = F.concat(F.array(*singles), *multi)
    return parse, F.inline(F.filter(statements, lambda s: s.isNotNull()))


def expand_template(
    csv_df: DataFrame,
    tmcf_text: str,
    row_id_col: str | None = None,
    min_partitions: int | None = None,
) -> DataFrame:
    """CSV rows × template → long-form instance statements.

    ``row_id_col``: column providing the deterministic per-row id
    (the reference's TEST-mode row number). If None, a row number is
    derived by a global sort over all columns — deterministic, but a
    full shuffle; at scale always supply a natural key column.

    ``min_partitions``: repartition the scan up to this count before
    the expansion — a single small CSV otherwise expands on one task
    (the reference parallelizes thread-per-FILE, Processor.java:272-293;
    we parallelize within the file too). At real scale the scan already
    has more partitions and this is a no-op (only ever raises the
    count).
    """
    if min_partitions and csv_df.rdd.getNumPartitions() < min_partitions:
        csv_df = csv_df.repartition(min_partitions)
    if row_id_col is None:
        from pyspark.sql import Window

        csv_df = csv_df.withColumn(
            "_rowid", F.row_number().over(Window.orderBy(*csv_df.columns))
        )
        row_id_col = "_rowid"
    parse, rows = _expansion(tmcf_text, tuple(csv_df.columns), row_id_col)
    return csv_df.select(*parse).select(rows)


def read_csv(spark: SparkSession, path: str) -> DataFrame:
    """S3: CSV scan with header + backslash escapes (TmcfCsvParser.java:55-112).

    Commons-CSV (``withEscape('\\\\')``) honors backslash escapes ANYWHERE
    in a field; Spark's ``escape`` option only applies inside quoted
    fields — so ``\\"x\\"`` in an unquoted field keeps its backslashes.
    A post-scan ``\\<char> → <char>`` pass restores parity (verified
    against the reference's own McfResolverTest_TmcfCsv.csv fixture)."""
    df = (
        spark.read.option("header", True)
        .option("escape", "\\")
        .option("ignoreLeadingWhiteSpace", True)
        .option("ignoreTrailingWhiteSpace", True)
        .csv(path)
    )
    # NOTE: no widening here — downstream callers derive row ids from
    # FILE ORDER (the TmcfCsvParser contract; golden tests pin it), and
    # a round-robin repartition would scramble it. The 1-task unescape
    # is the price of the ordered single-file scan.
    def unescape(col):
        # commons-csv readEscape(): \n/\t/\r/\b/\f map to their control
        # chars; any other \<char> is the char itself; \\ is a backslash
        c = F.regexp_replace(col, r"\\\\", "\u0000")
        for esc, rep in (("n", "\n"), ("t", "\t"), ("r", "\r"), ("b", "\b"), ("f", "\f")):
            c = F.regexp_replace(c, r"\\" + esc, rep)
        c = F.regexp_replace(c, r"\\(.)", "$1")
        return F.regexp_replace(c, "\u0000", r"\\")
    unesc = [
        unescape(F.col(c)).alias(c) if t == "string" else F.col(c)
        for c, t in df.dtypes
    ]
    return df.select(*unesc)
