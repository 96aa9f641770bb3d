"""Per-document extraction: Java source -> (nodes, triples, mentions) rows.

This is the fused kernel that runs inside the Spark Arrow UDF: one parse
feeds all three graph families (fusing what the reference does in three
separate passes, graphToDot/SaveAST|SaveCFG|SavePDG.java).

Output schema follows the repo contract (FIXTURES.md §3):

nodes   (doc_id, method_id, node_id, graph, kind, category, text,
         start_line, end_line)
triples (doc_id, method_id, subj, pred, obj, label)
   pred in {ast_child, cfg_normal, cfg_true, cfg_false, cfg_jump,
            pdg_control_true, pdg_control_false, pdg_data, pdg_execution}

Node identity for P/R comparison is (text, start_line, end_line) — the same
identity the reference DOT output exposes (cfg/node/CFGNode.java:175-188).
``node_id`` is the PE creation ordinal within the document (deterministic
pure function of content; replaces the reference's global AtomicInteger,
pe/ProgramElementInfo.java:32).
"""

from __future__ import annotations

import gc
from typing import Dict, List, Optional, Tuple

from .cfg import CFG, CFGNodeFactory, K_CONTROL
from .pdg import PDG
from .pe import (ClassInfo, ExpressionInfo, MethodInfo, NodeBudgetError, PE,
                 StatementInfo, TypeInfo, VariableDeclarationInfo)
from .pebuilder import PEBuilder

_PRIMS = frozenset(
    "boolean byte char short int long float double void var".split())

_CFG_PRED = {("normal", ""): "cfg_normal",
             ("control", "true"): "cfg_true",
             ("control", "false"): "cfg_false",
             ("jump", "jump"): "cfg_jump"}


def _pe_kind_category(pe: PE) -> Tuple[str, str]:
    if isinstance(pe, StatementInfo):
        return "statement", pe.category
    if isinstance(pe, ExpressionInfo):
        return "expression", pe.category
    if isinstance(pe, MethodInfo):
        return "method", "Lambda" if pe.lambda_ else "Method"
    if isinstance(pe, ClassInfo):
        return "class", "Class"
    if isinstance(pe, VariableDeclarationInfo):
        return "variable", pe.category
    if isinstance(pe, TypeInfo):
        return "type", "Type"
    return "operator", "Operator"


def _ast_children(pe: PE) -> List[PE]:
    """Parent->child relation over the PE tree (structural order)."""
    out: List[PE] = []
    if isinstance(pe, MethodInfo):
        out.extend(pe.parameters)
        out.extend(pe.statements)
        if pe.lambda_expression is not None:
            out.append(pe.lambda_expression)
    elif isinstance(pe, StatementInfo):
        out.extend(pe.expressions)
        out.extend(pe.initializers)
        if pe.condition is not None:
            out.append(pe.condition)
        out.extend(pe.updaters)
        out.extend(pe.statements)
        out.extend(pe.else_statements)
        out.extend(pe.catch_statements)
        if pe.finally_statement is not None:
            out.append(pe.finally_statement)
    elif isinstance(pe, ExpressionInfo):
        if pe.qualifier is not None:
            out.append(pe.qualifier)
        out.extend(pe.expressions)
        if pe.anonymous_class_declaration is not None:
            out.append(pe.anonymous_class_declaration)
    elif isinstance(pe, ClassInfo):
        out.extend(pe.methods)
    elif isinstance(pe, VariableDeclarationInfo):
        out.append(pe.type_info)
    return out


NODE_COLS_K = ("method_id", "node_id", "graph", "kind", "category",
               "text", "start_line", "end_line")
TRIPLE_COLS_K = ("method_id", "subj", "pred", "obj", "label")
MENTION_COLS_K = ("method_id", "node_id", "mention", "kind", "candidate")


def extract_document_columns(
        doc_id: str, source: str,
        graphs: Tuple[str, ...] = ("ast", "cfg", "pdg"),
        max_source_chars: int = 4_000_000,
        max_nodes: int = 100_000,
) -> Tuple[Dict[str, list], Dict[str, list], Dict[str, list], Optional[str]]:
    """Columnar kernel core: (node_cols, triple_cols, mention_cols, err).

    Same semantics and emission order as ``extract_document`` (which is
    now a thin dict view over this), but rows are appended straight into
    per-column lists — the Spark Arrow wrapper hands these to
    ``pyarrow.array`` directly, skipping both the per-row dict build and
    the per-column re-scan it used to pay. ``doc_id`` is constant per
    call and therefore NOT a column here (the wrapper replicates it).
    On failure the document degrades to the partial columns accumulated
    so far with the error recorded (the reference's PESafeStack drops
    subtrees; we additionally never fail the batch).

    The cyclic collector is paused for the document: its AST, PE and
    graph objects are all alive until it ends, so collections triggered
    while building them only re-walk live objects (the kernel's largest
    layer in an in-process replay). One generation-0 sweep at the end
    frees the document's cycles; the caller's ``gc`` state is restored
    on every exit path.
    """
    enabled = gc.isenabled()
    gc.disable()
    try:
        return _document_columns(doc_id, source, graphs, max_source_chars,
                                 max_nodes)
    finally:
        if enabled:
            gc.enable()
            gc.collect(0)


def _document_columns(doc_id: str, source: str, graphs: Tuple[str, ...],
                      max_source_chars: int, max_nodes: int) -> tuple:
    """The body of ``extract_document_columns``, which runs it with the
    collector paused."""
    n_mid: list = []
    n_nid: list = []
    n_graph: list = []
    n_kind: list = []
    n_cat: list = []
    n_text: list = []
    n_sl: list = []
    n_el: list = []
    t_mid: list = []
    t_subj: list = []
    t_pred: list = []
    t_obj: list = []
    t_label: list = []
    m_mid: list = []
    m_nid: list = []
    m_mention: list = []
    m_kind: list = []
    m_cand: list = []

    def _cols():
        return ({"method_id": n_mid, "node_id": n_nid, "graph": n_graph,
                 "kind": n_kind, "category": n_cat, "text": n_text,
                 "start_line": n_sl, "end_line": n_el},
                {"method_id": t_mid, "subj": t_subj, "pred": t_pred,
                 "obj": t_obj, "label": t_label},
                {"method_id": m_mid, "node_id": m_nid,
                 "mention": m_mention, "kind": m_kind,
                 "candidate": m_cand})

    def _fail(err: str):
        nc, tc, mc = _cols()
        return nc, tc, mc, err

    if len(source) > max_source_chars:
        return _fail("source too large")
    try:
        builder = PEBuilder(source, max_nodes=max_nodes)
        methods = builder.build()
    except RecursionError:
        return _fail("recursion limit")
    except NodeBudgetError as exc:
        # runaway-doc guard (VERDICT r4 #8): a mega-method inside the
        # source-size cap aborts at the PE-construction choke point
        # BEFORE the per-method quadratic def/kill stages — the doc
        # degrades to an error row instead of a partition straggler
        return _fail(str(exc))
    except Exception as exc:  # degrade, never fail the batch
        return _fail(f"parse error: {exc}")

    idgen = builder.idgen
    node_seen: set = set()

    # class/field declaration mentions (builder seeds; fields are not PE
    # nodes — projection parity — but their declarations are mentions)
    for node_id, mention_text, kind, candidate in builder.mention_seeds:
        m_mid.append("")
        m_nid.append(node_id)
        m_mention.append(mention_text)
        m_kind.append(kind)
        m_cand.append(candidate)

    def emit_node(method_id: str, pe: PE, graph: str, kind: str) -> None:
        key = (method_id, graph, pe.pe_id)
        if key in node_seen:
            return
        node_seen.add(key)
        k, category = _pe_kind_category(pe)
        n_mid.append(method_id)
        n_nid.append(pe.pe_id)
        n_graph.append(graph)
        n_kind.append(kind or k)
        n_cat.append(category)
        n_text.append(pe.text)
        n_sl.append(pe.start_line)
        n_el.append(pe.end_line)

    def emit_triple(method_id: str, subj: int, pred: str, obj: int,
                    label: str) -> None:
        t_mid.append(method_id)
        t_subj.append(subj)
        t_pred.append(pred)
        t_obj.append(obj)
        t_label.append(label)

    def emit_mention(method_id: str, pe: PE) -> None:
        if isinstance(pe, ExpressionInfo) and \
                pe.category == "MethodInvocation" and pe.expressions:
            m_mid.append(method_id)
            m_nid.append(pe.pe_id)
            m_mention.append(pe.expressions[0].text)
            m_kind.append("call_site")
            m_cand.append(pe.api_name or pe.expressions[0].text)
        elif isinstance(pe, VariableDeclarationInfo):
            # params / foreach vars / catch params
            base = builder._base_type(
                pe.type_info.text if pe.type_info is not None else "")
            _emit_var_mention(method_id, pe.pe_id, pe.name or "", base)
        elif (isinstance(pe, StatementInfo)
              and pe.category == "VariableDeclaration") or \
             (isinstance(pe, ExpressionInfo)
              and pe.category == "VariableDeclarationExpression"):
            # local declarations build as TypeInfo + fragment expressions
            tinfo = next((e for e in pe.expressions
                          if isinstance(e, TypeInfo)), None)
            base = builder._base_type(tinfo.text) if tinfo is not None else ""
            for e in pe.expressions:
                if isinstance(e, ExpressionInfo) \
                        and e.category == "VariableDeclarationFragment" \
                        and e.expressions:
                    _emit_var_mention(method_id, e.pe_id,
                                      e.expressions[0].text, base)

    def _emit_var_mention(method_id: str, node_id: int, name: str,
                          base: str) -> None:
        """north_star mention family "variable declarations": the declared
        NAME, plus a type_ref for non-primitive declared types
        (import-qualified — the same resolution apiName uses)."""
        m_mid.append(method_id)
        m_nid.append(node_id)
        m_mention.append(name)
        m_kind.append("var_decl")
        m_cand.append(f"{base} {name}" if base else name)
        if base and base not in _PRIMS:
            m_mid.append(method_id)
            m_nid.append(node_id)
            m_mention.append(base)
            m_kind.append("type_ref")
            m_cand.append(builder.imports.get(base, base))

    for ordinal, method in enumerate(methods):
        method_id = f"{doc_id}#{ordinal}:{method.name or '<lambda>'}"
        m_mid.append(method_id)
        m_nid.append(method.pe_id)
        m_mention.append(method.name or "")
        m_kind.append("method_decl")
        m_cand.append(method.name or "")
        try:
            # ---- AST graph + call-site mentions: ONE preorder walk ----
            if "ast" in graphs:
                stack: List[PE] = [method]
                seen_ast: set = set()
                while stack:
                    pe = stack.pop()
                    if pe.pe_id in seen_ast:
                        continue
                    seen_ast.add(pe.pe_id)
                    emit_node(method_id, pe, "ast", "")
                    emit_mention(method_id, pe)
                    children = _ast_children(pe)
                    for child in children:
                        emit_triple(method_id, pe.pe_id, "ast_child",
                                    child.pe_id, "")
                    stack.extend(reversed(children))

            # ---- CFG ----
            cfg = CFG(method, CFGNodeFactory(idgen)).build()
            if "cfg" in graphs:
                # SaveCFG enumerates the union of fwd+bwd edges over the
                # node set (graphToDot/SaveCFG.java:88-99)
                edge_map: Dict[Tuple[int, int, str], object] = {}
                for n in cfg.all_nodes():
                    emit_node(method_id, n.core, "cfg",
                              "control" if n.kind == K_CONTROL else n.kind)
                    edge_map.update(n.forward)
                    edge_map.update(n.backward)
                for k in sorted(edge_map):
                    e = edge_map[k]
                    pred = _CFG_PRED[(e.type_str, e.label)]
                    emit_node(method_id, e.from_node.core, "cfg",
                              "control" if e.from_node.kind == K_CONTROL
                              else e.from_node.kind)
                    emit_node(method_id, e.to_node.core, "cfg",
                              "control" if e.to_node.kind == K_CONTROL
                              else e.to_node.kind)
                    emit_triple(method_id, k[0], pred, k[1], "")

            # ---- PDG (reuses the built CFG) ----
            if "pdg" in graphs:
                pdg = PDG(method, cfg, idgen).build()
                for n in pdg.sorted_nodes():
                    emit_node(method_id, n.core, "pdg", n.kind)
                for e in pdg.sorted_edges():
                    if e.type_str == "control":
                        pred = "pdg_control_true" if e.label == "true" \
                            else "pdg_control_false"
                        label = ""
                    elif e.type_str == "data":
                        pred, label = "pdg_data", e.label
                    else:
                        pred, label = "pdg_execution", ""
                    emit_triple(method_id, e.from_node.core.pe_id, pred,
                                e.to_node.core.pe_id, label)

            # ---- mentions without the ast pass: standalone walk ----
            if "ast" not in graphs:
                stack2: List[PE] = [method]
                seen_m: set = set()
                while stack2:
                    pe = stack2.pop()
                    if pe.pe_id in seen_m:
                        continue
                    seen_m.add(pe.pe_id)
                    emit_mention(method_id, pe)
                    stack2.extend(_ast_children(pe))
        except RecursionError:
            return _fail(f"recursion limit in {method_id}")
        except Exception as exc:
            return _fail(f"graph error in {method_id}: {exc}")

    nc, tc, mc = _cols()
    return nc, tc, mc, None


def _rows(doc_id: str, cols: Dict[str, list], order: Tuple[str, ...]) -> List[dict]:
    keys = ("doc_id",) + order
    return [dict(zip(keys, (doc_id,) + row))
            for row in zip(*(cols[c] for c in order))]


def extract_document(doc_id: str, source: str,
                     graphs: Tuple[str, ...] = ("ast", "cfg", "pdg"),
                     max_source_chars: int = 4_000_000,
                     ) -> Tuple[List[dict], List[dict], List[dict], Optional[str]]:
    """Run the full kernel on one compilation unit.

    Returns (nodes, triples, mentions, error) as row dicts — a thin view
    over ``extract_document_columns`` (the Spark path consumes the
    columnar form directly). On parse failure the document degrades to
    empty output with the error recorded (the reference's PESafeStack
    drops subtrees; we additionally never fail the batch).
    """
    nc, tc, mc, err = extract_document_columns(
        doc_id, source, graphs=graphs, max_source_chars=max_source_chars)
    return (_rows(doc_id, nc, NODE_COLS_K),
            _rows(doc_id, tc, TRIPLE_COLS_K),
            _rows(doc_id, mc, MENTION_COLS_K), err)
