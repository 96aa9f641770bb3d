"""PDG construction rules per SURVEY.md §2.6
(reference: /root/reference/src/main/java/com/tinypdg/pdg/PDG.java)."""

import os

from conftest import edge_set, wrap

from propertygraph_spark.pipeline.fixtures import (
    REFERENCE_TESTCASE_DIR as FIXDIR)


def pdg(src):
    return edge_set(src, "pdg")


def fixture_source(name):
    """One reference fixture program, read where the reference keeps it;
    the tests that need one fail with FileNotFoundError naming the path
    when it is absent."""
    with open(os.path.join(FIXDIR, name)) as f:
        return f.read()


def test_guard_new_golden():
    """FIXTURES.md §5 worked golden, adjusted for PDG edge dedup by
    (from, to, type): only one data label survives per node pair
    (PDGEdge.compareTo ignores the variable)."""
    e = pdg(fixture_source("FilenameGuardFilterNew.java"))
    s1 = 'String guarded = filename.replace(":","_");'
    s2 = 'guarded = FileSystems.getDefault().getPath(guarded).normalize().toString();'
    c = "if LOG.isDebugEnabled()"
    s3 = 'LOG.debug( ( "guarded " + filename ) + " to " + guarded);'
    s4 = "return guarded;"
    p = "String filename"
    E = "Enter"

    execution = {(a, "pdg_execution", b, "") for a, b in [
        (E, s1), (s1, s2), (s2, c), (c, s3), (c, s4), (s3, s4)]}
    assert execution <= e

    data = {
        (E, "pdg_data", p, "filename"),
        (p, "pdg_data", s1, "filename"),
        (p, "pdg_data", s3, "filename"),
        (s1, "pdg_data", s2, "guarded"),
        (s2, "pdg_data", s3, "guarded"),
        (s2, "pdg_data", s4, "guarded"),
        # heuristic extras (receiver MAY_DEFs):
        (c, "pdg_data", c, "LOG"),         # isDebugEnabled -> MAY_DEF LOG self-loop
        (c, "pdg_data", s3, "LOG"),
        (s1, "pdg_data", s1, "filename"),  # replace -> MAY_DEF filename self-loop
        (s1, "pdg_data", s3, "filename"),
        (s2, "pdg_data", s2, "FileSystems"),  # normalize -> MAY_DEF receiver chain
    }
    assert data <= e

    control = {(c, "pdg_control_true", s3, "")}
    assert control <= e

    # exactly this set, nothing more
    assert e == execution | data | control


def test_execution_mirrors_cfg_plus_enter():
    src = wrap("g();\n        if (x > 0) { h(); }\n        k();")
    cfg_e = edge_set(src, "cfg")
    pdg_e = edge_set(src, "pdg")
    exec_pairs = {(s, o) for s, p, o, _ in pdg_e if p == "pdg_execution"}
    cfg_pairs = {(s, o) for s, p, o, _ in cfg_e}
    assert cfg_pairs <= exec_pairs
    extra = exec_pairs - cfg_pairs
    assert extra == {("Enter", "g();")}


def test_data_self_loop_def_and_use():
    # x = x + 1: defs x (DEF) and uses x -> self loop (PDG.java:320-321)
    e = pdg(wrap("x = x + 1;\n        g(x);"))
    assert ("x =  ( x + 1 );", "pdg_data", "x =  ( x + 1 );", "x") in e
    assert ("x =  ( x + 1 );", "pdg_data", "g(x);", "x") in e


def test_exact_def_kills_propagation():
    # first def of y killed by re-assignment before the use
    e = pdg(wrap("int y = a;\n        y = b;\n        g(y);"))
    assert ("y = b;", "pdg_data", "g(y);", "y") in e
    assert ("int y = a;", "pdg_data", "g(y);", "y") not in e
    # but DECLARE_AND_DEF reaches the redefinition's own rhs? no use there
    assert ("int y = a;", "pdg_data", "y = b;", "y") not in e


def test_may_def_does_not_kill():
    # unknownCall() on receiver y -> MAY_DEF y; does NOT kill the decl def
    e = pdg(wrap("int y = a;\n        y.frobnicate();\n        g(y);"))
    assert ("int y = a;", "pdg_data", "g(y);", "y") in e       # passes through
    assert ("y.frobnicate();", "pdg_data", "g(y);", "y") in e  # MAY_DEF source


def test_enter_and_param_edges():
    e = pdg("class A { void f(int a, int b) { g(a); } }")
    assert ("Enter", "pdg_data", "int a", "a") in e
    assert ("Enter", "pdg_data", "int b", "b") in e
    assert ("int a", "pdg_data", "g(a);", "a") in e
    assert ("Enter", "pdg_execution", "g(a);", "") in e


def test_control_dependence_polarity():
    e = pdg(wrap("if (x > 0) { g(); } else { h(); }"))
    assert ("if  ( x > 0 )", "pdg_control_true", "g();", "") in e
    assert ("if  ( x > 0 )", "pdg_control_false", "h();", "") in e


def test_control_dependence_nested_targets_inner_condition():
    e = pdg(wrap("if (x > 0) { if (y > 0) { g(); } }"))
    assert ("if  ( x > 0 )", "pdg_control_true", "if  ( y > 0 )", "") in e
    assert ("if  ( y > 0 )", "pdg_control_true", "g();", "") in e
    # outer does NOT directly control g()
    assert ("if  ( x > 0 )", "pdg_control_true", "g();", "") not in e


def test_for_updaters_get_true_edges():
    e = pdg(wrap("for (int i = 0; i < x; i++) { g(i); }"))
    assert (" ( i < x )", "pdg_control_true", "i++", "") in e
    assert (" ( i < x )", "pdg_control_true", "g(i);", "") in e


def test_catch_block_unreachable_but_processed():
    # catch bodies are CFG-unreachable yet still get PDG edges
    # (PDG.java:285-292)
    src = wrap("try { g(); } catch (Exception ex) { h(ex); }\n        z();")
    e = pdg(src)
    assert ("catch ( Exception ex )", "pdg_control_true", "h(ex);", "") in e
    # the exception decl is a DECLARE def; no data edge needed, but the
    # execution edge from catch body to following statement must exist
    assert ("h(ex);", "pdg_execution", "z();", "") in e


def test_field_this_aliasing():
    # assignment to an undeclared lowercase name -> this.name def; a later
    # use matches via the alias set
    e = pdg(wrap("count = 1;\n        g(count);"))
    assert ("count = 1;", "pdg_data", "g(count);", "this.count") in e


def test_uppercase_names_not_field_aliased():
    e = pdg(wrap("LOG = x;\n        g(LOG);"))
    assert ("LOG = x;", "pdg_data", "g(LOG);", "LOG") in e


def test_shadowing_scopes():
    """MyTest.test5 semantics: inner redeclaration of x shadows the
    parameter; inner defs don't flow to the outer variable's uses."""
    src = fixture_source("MyTest.java")
    e = pdg(src)
    # x = 1 (outer def) reaches the first println inside the bare block
    # (the block is one CFG node), but data edges are node-level here
    data = {(s, o, l) for s, p, o, l in e if p == "pdg_data"}
    assert any(s == "x = 1;" for s, o, l in data)


def test_method_name_def_heuristics():
    # getX -> NO_DEF receiver (no data edge from the call), setX -> DEF
    e1 = pdg(wrap("obj.getValue();\n        g(obj);"))
    assert not any(s == "obj.getValue();" and lab == "obj"
                   for s, p, o, lab in e1 if p == "pdg_data")
    # obj is undeclared -> field-aliased to this.obj (StatementInfo.java:286)
    e2 = pdg(wrap("obj.setValue(v);\n        g(obj);"))
    assert ("obj.setValue(v);", "pdg_data", "g(obj);", "this.obj") in e2


def test_data_edge_dedup_matches_reference_treeset():
    """The reference stores PDG edges in TreeSet<PDGEdge> whose compareTo
    is (fromNode, toNode, type.toString()) with DATA.toString() == "data"
    (pdg/edge/PDGEdge.java:78-89, :113-117; pdg/node/PDGNode.java:36-43).
    Two data dependences between the SAME node pair for DIFFERENT
    variables therefore collapse to the first inserted — def iteration
    order (TreeSet of VarDefs, name order). Reproduce, don't repair:
    in FilenameGuardFilterOld, the decl both may-defs `filename`
    (receiver of .replace) and defs `guarded`; both reach LOG.debug(...),
    but only the `filename` edge (name-ordered first) survives."""
    from propertygraph_spark.kernel.extract import extract_document
    src = fixture_source("FilenameGuardFilterOld.java")
    nodes, triples, _, err = extract_document("fx", src)
    assert err is None
    id2 = {n["node_id"]: n["text"] for n in nodes}
    decl_to_debug = [
        t for t in triples if t["pred"] == "pdg_data"
        and id2[t["subj"]].startswith("String guarded")
        and id2[t["obj"]].startswith("LOG.debug")]
    assert len(decl_to_debug) == 1
    assert decl_to_debug[0]["label"] == "filename"


def test_param_scope_resolution_no_field_aliasing():
    """Uses of a parameter resolve to the method scope (params are
    DECLARE defs there, pe/MethodInfo.java:115-124) — they must NOT be
    field-aliased to `this.<name>`."""
    from propertygraph_spark.kernel.extract import extract_document
    src = ("class A { void m(String s) { int n = s.length(); "
           "f(s); } }")
    nodes, triples, _, err = extract_document("d", src)
    assert err is None
    labels = {t["label"] for t in triples if t["pred"] == "pdg_data"}
    assert "s" in labels
    assert "this.s" not in labels
