"""Spark plan ingestion — the analog of the reference's Postgres
EXPLAIN parser.

Reference ``dqo/db/execution_plan.py`` parsed Postgres
``EXPLAIN (FORMAT JSON)`` into ScanOp/JoinOp/NestedLoopOp/AggregateOp
(§2.3) and needed a separate merge step to overlay the physical join
order onto the logical tree (``gerelt/v20/encoder.py:705-742``). With
Spark we featurize the engine's OWN optimized plan — no merge hack:
``df._jdf.queryExecution().optimizedPlan()`` is the exact tree Catalyst
will execute, join order included.

Both logical paths build a ``PlanNode`` tree with the reference's node
vocabulary {relation, selection, join, projection, aggregation, other},
and agree on every field the encoder reads:

- live plans (``parse_optimized_plan`` / ``parse_jvm_plan``): the tree
  shape and node names come from one ``numberedTreeString()`` call.
  Only the nodes the encoder reads cross Py4J again: Filter and Join
  conditions as expression JSON, and the output names of Project,
  Aggregate, LogicalRelation and LocalRelation from their schema.
  Whole-plan ``toJSON()`` runs only when the printed shape cannot be
  trusted (see ``plan_shape``): its reply is always over 8 KiB, which
  costs a ~40 ms socket stall (see ``_REPLY_BYTES``), so a condition
  whose JSON may be that long is fetched in smaller pieces.
- stored plan JSON (``parse_plan_json``): the optimized-plan
  ``toJSON()`` that ``SparkQueryRunner.analyze`` logs with each label.

``physical_summary`` reads the executed-plan string: physical operator
counts + pushed-filter / partition-pruning evidence (the reference's
ScanOp ``Index Cond`` analog is parquet pushdown).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

# Catalyst class suffix → reference node vocabulary
_KIND_MAP = {
    "LogicalRelation": "relation",
    "HiveTableRelation": "relation",
    "UnresolvedRelation": "relation",
    "LocalRelation": "relation",
    "Filter": "selection",
    "Join": "join",
    "Project": "projection",
    "Aggregate": "aggregation",
    "SubqueryAlias": "alias",
    "GlobalLimit": "limit",
    "LocalLimit": "limit",
    "Sort": "sort",
    "Window": "window",
    "Union": "union",
    "Distinct": "distinct",
    "Deduplicate": "distinct",
}


@dataclass
class PlanNode:
    kind: str
    cls: str
    children: list["PlanNode"] = field(default_factory=list)
    condition: str = ""
    relation: str = ""
    columns: list[str] = field(default_factory=list)

    def preorder(self) -> list["PlanNode"]:
        out = [self]
        for c in self.children:
            out.extend(c.preorder())
        return out

    def postorder(self) -> list["PlanNode"]:
        out: list[PlanNode] = []
        for c in self.children:
            out.extend(c.postorder())
        out.append(self)
        return out

    def bfs(self) -> list["PlanNode"]:
        out, queue = [], [self]
        while queue:
            n = queue.pop(0)
            out.append(n)
            queue.extend(n.children)
        return out

    def count(self, kind: str) -> int:
        return sum(1 for n in self.preorder() if n.kind == kind)


def _extract_columns(node: dict) -> list[str]:
    cols: list[str] = []
    for key in ("projectList", "output", "aggregateExpressions"):
        v = node.get(key)
        if isinstance(v, list):
            for item in v:
                if isinstance(item, list):
                    for attr in item:
                        if isinstance(attr, dict) and attr.get("name"):
                            cols.append(str(attr["name"]))
                            break
    return cols


def _condition_text(node: dict) -> str:
    cond = node.get("condition") or node.get("joinCondition")
    return json.dumps(cond)[:2000] if cond else ""


def _relation_name(node: dict) -> str:
    rel = node.get("relation")
    if isinstance(rel, list) and rel:
        return str(rel[0]) if isinstance(rel[0], str) else ""
    for key in ("tableIdentifier", "identifier", "multipartIdentifier"):
        if node.get(key):
            return str(node[key])
    cs = node.get("catalogTable")
    if isinstance(cs, dict):
        return str(cs.get("identifier", ""))
    return ""


def parse_plan_json(plan_json: str) -> PlanNode:
    """Catalyst ``TreeNode.toJSON`` is a preorder-flattened array with
    ``num-children`` per node — rebuild the tree recursively."""
    nodes = json.loads(plan_json)

    def build(i: int) -> tuple[PlanNode, int]:
        raw = nodes[i]
        cls = raw.get("class", "").rsplit(".", 1)[-1]
        kind = _KIND_MAP.get(cls, "other")
        node = PlanNode(
            kind=kind,
            cls=cls,
            condition=_condition_text(raw),
            relation=_relation_name(raw) if kind == "relation" else "",
            columns=_extract_columns(raw),
        )
        n_children = int(raw.get("num-children", 0))
        j = i + 1
        for _ in range(n_children):
            child, j = build(j)
            node.children.append(child)
        return node, j

    root, _ = build(0)
    return root


# ``NN prefix Name`` — one line of ``numberedTreeString``: the line
# number, one 3-char marker per tree level below the root, and the node
# name followed by a space or the line's end (a name glued to its
# arguments, like ``RelationV2[...]``, does not match)
_TREE_LINE_RE = re.compile(r"(\d+) ((?:   |:  )*(?:\+- |:- ))?([A-Za-z_][A-Za-z0-9_]*)(?: |$)")
_OUTPUT_NODES = frozenset({"Project", "Aggregate", "LogicalRelation", "LocalRelation"})


def plan_shape(plan) -> list[tuple[str, int, str]] | None:
    """(class name, depth, printed arguments) of every node of the JVM
    ``plan`` in preorder, read from one ``numberedTreeString()`` call;
    ``None`` when the text is not one line per node. A string literal
    holding a newline spills onto extra lines, and inner children
    (subquery plans, the cached plan under ``InMemoryRelation``) print
    two levels deeper than their owner — both break the line ↔
    ``plan.apply(i)`` correspondence."""
    lines = plan.numberedTreeString().split("\n")
    shape: list[tuple[str, int, str]] = []
    for i, line in enumerate(lines):
        m = _TREE_LINE_RE.match(line)
        if m is None or int(m.group(1)) != i:
            return None
        depth = len(m.group(2) or "") // 3
        if (depth == 0) != (i == 0) or (i and depth > shape[-1][1] + 1):
            return None
        name = m.group(3)  # the class's simple name; LogicalRelation prints as Relation
        shape.append(("LogicalRelation" if name == "Relation" else name, depth, line[m.end() :]))
    if plan.apply(len(lines) - 1) is None or plan.apply(len(lines)) is not None:
        return None
    return shape


# A Py4J reply longer than the JVM's 8 KiB socket write buffer leaves in
# two writes. Nagle's algorithm holds the second until the first is
# acknowledged, and the delayed ACK turns that into a ~40 ms stall on
# Linux: whole-plan ``toJSON()`` pays it on every plan. Conditions whose
# JSON may exceed ``_REPLY_BYTES`` are fetched in pieces below it.
_REPLY_BYTES = 8000
# bytes of condition JSON per character of its printed form and of its
# SQL text, rounded up from the largest ratios over the query workload
_JSON_PER_PRINTED_CHAR = 26
_JSON_PER_SQL_CHAR = 36
_CONDITION_CHARS = 2000  # what parse_plan_json keeps of a condition
_JUNCTIONS = {
    " AND ": "org.apache.spark.sql.catalyst.expressions.And",
    " OR ": "org.apache.spark.sql.catalyst.expressions.Or",
}


class _Disagree(Exception):
    """A subtree's SQL text is not the one read from its ancestor's."""


def _condition_json_text(expr, printed: str) -> str:
    """``json.dumps(json.loads(expr.toJSON()))[:2000]`` — the condition
    text of ``parse_plan_json``. ``printed`` is the owning node's
    arguments as the plan prints them; when they are long, only the
    head of the JSON is fetched (``_json_head``)."""
    if len(printed) * _JSON_PER_PRINTED_CHAR > _REPLY_BYTES:
        try:
            return json.dumps(_json_head(expr))[:_CONDITION_CHARS]
        except (_Disagree, Py4JError):
            pass
    return json.dumps(json.loads(expr.toJSON()))[:_CONDITION_CHARS]


def _json_head(expr) -> list:
    """The leading elements of ``json.loads(expr.toJSON())`` — enough
    for ``_CONDITION_CHARS`` of their ``json.dumps`` — in replies that
    stay under ``_REPLY_BYTES``. And/Or nodes are read off ``expr.sql()``,
    which prints each as ``(left AND right)`` with literals quoted; any
    other subtree is fetched by its preorder number, once its own SQL
    text is checked against the one read."""
    head: list = []
    chars = 1  # len(json.dumps(head)) less the closing bracket

    def walk(number: int, sql: str) -> int | None:
        """Append the subtree numbered ``number``; its node count, or
        ``None`` once ``head`` is long enough."""
        nonlocal chars
        junction = _junction(sql) if len(sql) * _JSON_PER_SQL_CHAR > _REPLY_BYTES else None
        if junction is None:
            node = expr.apply(number)
            if node is None or node.sql() != sql:
                raise _Disagree(sql[:80])
            nodes = json.loads(node.toJSON())
        else:
            nodes = [{"class": junction[0], "num-children": 2, "left": 0, "right": 1}]
        for n in nodes:
            chars += len(json.dumps(n)) + (2 if head else 0)
            head.append(n)
        if chars >= _CONDITION_CHARS:
            return None
        if junction is None:
            return len(nodes)
        count = 1
        for child in junction[1:]:
            size = walk(number + count, child)
            if size is None:
                return None
            count += size
        return count

    walk(0, expr.sql())
    return head


def _junction(sql: str) -> tuple[str, str, str] | None:
    """(And/Or class, left SQL, right SQL) when ``sql`` reads
    ``(left AND right)`` or ``(left OR right)``: one AND/OR outside
    quotes and inner parentheses, and two different operands (equal
    ones would share a child number in the JSON)."""
    end = len(sql) - 1
    if not (sql.startswith("(") and sql.endswith(")")):
        return None
    found, depth, quote, i = None, 0, "", 1
    while i < end:
        ch = sql[i]
        if quote:
            if ch == "\\" and quote == "'":
                i += 1
            elif ch == quote:
                quote = ""
        elif ch in "'`":
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:  # the opening parenthesis closes before the end
                return None
        elif ch == " " and depth == 0:
            for word, cls in _JUNCTIONS.items():
                if sql.startswith(word, i):
                    if found is not None:
                        return None
                    found = (cls, i, i + len(word))
        i += 1
    if found is None or depth or quote:
        return None
    cls, at, after = found
    left, right = sql[1:at], sql[after:end]
    return None if left == right else (cls, left, right)


def parse_jvm_plan(plan) -> PlanNode:
    """``PlanNode`` tree of a JVM logical plan, equal for the encoder to
    ``parse_plan_json(plan.toJSON())``: conditions for Filter/Join and
    output names for the nodes in ``_OUTPUT_NODES``; every other field
    is left empty (``relation`` included — a ``LogicalRelation``'s JSON
    never carries a name the encoder can read, so it matches tables by
    their columns)."""
    shape = plan_shape(plan)
    if shape is None:
        return parse_plan_json(plan.toJSON())
    stack: list[PlanNode] = []
    for i, (cls, depth, printed) in enumerate(shape):
        node = PlanNode(kind=_KIND_MAP.get(cls, "other"), cls=cls)
        if cls == "Filter":
            node.condition = _condition_json_text(plan.apply(i).condition(), printed)
        elif cls == "Join":
            cond = plan.apply(i).condition()
            node.condition = _condition_json_text(cond.get(), printed) if cond.isDefined() else ""
        elif cls in _OUTPUT_NODES:
            fields = json.loads(plan.apply(i).schema().json())["fields"]
            node.columns = [f["name"] for f in fields]
            if "" in node.columns:  # the JSON path reads past an empty alias
                return parse_plan_json(plan.toJSON())
        del stack[depth:]
        if stack:
            stack[-1].children.append(node)
        stack.append(node)
    return stack[0]


def parse_optimized_plan(df: DataFrame) -> PlanNode:
    return parse_jvm_plan(df._jdf.queryExecution().optimizedPlan())


# ---------------------------------------------------------------------------
# physical plan summary (§2.3 mapping of execution_plan.py)
# ---------------------------------------------------------------------------

_PHYSICAL_OPS = (
    "FileScan",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "Exchange",
    "Sort",
    "Window",
    "TakeOrderedAndProject",
    "WholeStageCodegen",
)


def physical_summary(physical_plan: str) -> dict:
    """Operator counts + pushdown evidence from the executed-plan text.
    ``pushed_filters`` non-empty is the proof that a predicate reached
    the parquet scan (the scale property SURVEY §0 demands we verify).

    AQE plans print both '== Final Plan ==' and '== Initial Plan =='
    sections; only the final (actually executed) one is counted."""
    if "== Final Plan ==" in physical_plan:
        physical_plan = physical_plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    counts = {op: len(re.findall(rf"\b{op}\b", physical_plan)) for op in _PHYSICAL_OPS}
    # codegen spans print as '*(n)' prefixes in executedPlan text (the
    # literal word only appears in formatted explain) — count distinct ids
    codegen_ids = set(re.findall(r"\*\((\d+)\)", physical_plan))
    counts["WholeStageCodegen"] = max(counts.get("WholeStageCodegen", 0), len(codegen_ids))
    # filter lists may be truncated by Spark ('Great...') — accept a
    # missing closing bracket
    pushed = re.findall(r"PushedFilters: \[([^\]\n]*)", physical_plan)
    read_schema = re.findall(r"ReadSchema: ([^\n]*)", physical_plan)
    partition_filters = re.findall(r"PartitionFilters: \[([^\]\n]*)", physical_plan)
    return {
        "counts": {k: v for k, v in counts.items() if v},
        "pushed_filters": [p for p in pushed if p.strip()],
        "partition_filters": [p for p in partition_filters if p.strip()],
        "read_schema": read_schema,
    }


def physical_summary_of(df: DataFrame) -> dict:
    return physical_summary(df._jdf.queryExecution().executedPlan().toString())
