"""Text-rendering fidelity tests (node identity = rendered text).

Each rule cites the reference visitor line it replicates
(/root/reference/src/main/java/com/tinypdg/ast/PEASTVisitor.java).
"""

from conftest import extract, wrap

from propertygraph_spark.kernel.pebuilder import build_methods


def stmt_texts(src):
    nodes, _ = extract(src)
    return [n["text"] for n in nodes if n["graph"] == "cfg"]


def expr_text_of_first_stmt(body):
    methods = build_methods(wrap(body))
    return methods[0].statements[0].text


CASES = [
    # (java statement, expected statement text)
    ("int a = 1;", "int a = 1;"),
    ("a = b + c;", "a =  ( b + c );"),                      # infix ' ( l op r )' :643-667
    ("a = b + c + d;", "a =  ( b + c ) + d;"),              # extended operands :669-681
    ("x++;", "x++;"),
    ("++x;", "++x;"),
    ("a = !b;", "a = !b;"),
    ("a = (b);", "a = (b);"),
    ("a = m.f(p, q);", "a = m.f(p,q);"),                    # args ',' no space :1004-1015
    ("a = f();", "a = f();"),
    ('s = s.replace(":", "_");', 's = s.replace(":","_");'),
    ("a = x ? y : z;", "a = x ? y : z;"),                   # trinomial :862-891
    ("a = (String) o;", "a = (String)o;"),                  # cast :787-811
    ("a = o instanceof String;", "a = o instanceof String;"),
    ("a = arr[i];", "a = arr[i];"),
    ("a = new int[5];", "a = new int[][];"),                # dims unrendered, ArrayType '[]' doubled :687-714
    ("a = new String[] {\"x\", \"y\"};", "a = new String[][];"),  # quirky double [] + silent initializer
    ("a = this.t;", "a = this.t;"),
    ("a = b.c;", "a = b.c;"),
    ("return;", "return;"),
    ("return a;", "return a;"),
    ("throw e;", "throw e;"),
    (";", ";"),
    ("a = new A(q);", "a = new A(q);"),
    ("a = java.util.List.class;", "a = ;"),                 # TypeLiteral text "" :552-559
    ("a = true;", "a = true;"),
    ("a = null;", "a = null;"),
    ("a = 'c';", "a = 'c';"),
    ("a = 0x1F;", "a = 0x1F;"),
    ("super.p = 1;", "super.p = 1;"),
    ("a = super.m(p);", "a = super.mp;"),                   # SuperMethodInvocation quirk :524-549
    ("String r[];", "String r;"),                           # extra dims unrendered :1214-1241
    ("final int q = 2;", "final int q = 2;"),
    ("Map<String, Object> m2 = null;", "Map<String,Object> m2 = null;"),
]


def test_statement_texts():
    for java, expected in CASES:
        assert expr_text_of_first_stmt("        " + java) == expected, java


def test_if_condition_prefix():
    m = build_methods(wrap("if (a == b) { g(); }"))[0]
    if_stmt = m.statements[0]
    assert if_stmt.condition.text == "if  ( a == b )"      # :1401
    assert if_stmt.text.startswith("if ( ( a == b )) ")


def test_while_condition_prefix():
    m = build_methods(wrap("while (a) { g(); }"))[0]
    w = m.statements[0]
    assert w.condition.text == "while a"                    # :1580
    assert w.text.startswith("while (a) ")


def test_do_for_switch_conditions_unprefixed():
    m = build_methods(wrap("do { g(); } while (a);"))[0]
    assert m.statements[0].condition.text == "a"
    m = build_methods(wrap("for (int i = 0; i < n; i++) { g(); }"))[0]
    assert m.statements[0].condition.text == " ( i < n )"
    assert m.statements[0].text.startswith("for (int i = 0; ")
    m = build_methods(wrap("switch (a) { case 1: g(); }"))[0]
    assert m.statements[0].condition.text == "a"


def test_switch_case_text():
    m = build_methods(wrap("switch (a) { case 1: g(); break; default: h(); }"))[0]
    sw = m.statements[0]
    case_texts = [s.text for s in sw.statements if s.category == "Case"]
    assert case_texts == ["case 1:", ":"]                  # default renders ':' (JDT quirk)


def test_catch_text():
    m = build_methods(wrap("try { g(); } catch (Exception e) { h(); }"))[0]
    tr = m.statements[0]
    catch = tr.catch_statements[0]
    assert catch.condition.text == "catch ( Exception e )"  # :1777-1783
    assert catch.text == "catch (catch ( Exception e )) "   # body text not appended :1753


def test_method_text_and_params():
    m = build_methods("class A { public int f(final String s, int[] a) { return 1; } }")[0]
    assert m.text.startswith("public int f (final String s,int[] a) ")
    assert [p.name for p in m.parameters] == ["s", "a"]
    assert [p.category for p in m.parameters] == ["PARAMETER", "PARAMETER"]


def test_lambda_text():
    m = build_methods(wrap("m.replaceAll((k, v) -> v);"))[0]
    stmt = m.statements[0]
    assert "(k,v) -> v" in stmt.text


def test_string_escapes():
    assert expr_text_of_first_stmt('        a = "a\\\\b";') == 'a = "a\\b";'
    assert expr_text_of_first_stmt('        a = "\\n";') == 'a = "\n";'


def test_line_numbers():
    src = "class A {\n    void f() {\n        int a = 1;\n        if (a > 0) {\n            g();\n        } else {\n            h();\n        }\n    }\n}"
    nodes, _ = extract(src)
    by_text = {n["text"]: (n["start_line"], n["end_line"]) for n in nodes}
    assert by_text["int a = 1;"] == (3, 3)
    # If end line = line of 'else' start - 1 (PEASTVisitor.java:127-132)
    if_nodes = [n for n in nodes if n["text"].startswith("if (")]
    assert if_nodes[0]["start_line"] == 4 and if_nodes[0]["end_line"] == 6


def test_try_end_line_is_before_first_catch():
    src = "class A {\n    void f() {\n        try {\n            g();\n        } catch (Exception e) {\n            h();\n        }\n    }\n}"
    nodes, _ = extract(src)
    tr = [n for n in nodes if n["text"].startswith("try ")][0]
    assert tr["start_line"] == 3 and tr["end_line"] == 5


def test_kernel_pauses_gc_and_restores_caller_state():
    """extract_document_columns pauses the cyclic collector for the
    document and gives the caller's gc state back on every exit path:
    a normal doc, a malformed doc and a node-budget doc. The rows do
    not depend on the collector."""
    import gc

    from propertygraph_spark.kernel.extract import extract_document_columns
    docs = [("ok", wrap("int y = x + 1;\nif (y > 2) { y = y * 3; }"), {}),
            ("bad", "class X { int", {}),
            ("budget", wrap("\n".join(f"int v{i} = {i};" for i in range(50))),
             {"max_nodes": 20})]
    seen = {}
    for enabled in (True, False):
        (gc.enable if enabled else gc.disable)()
        try:
            for doc_id, src, kw in docs:
                out = extract_document_columns(doc_id, src, **kw)
                assert gc.isenabled() is enabled, (doc_id, enabled)
                seen.setdefault(doc_id, []).append(out)
        finally:
            gc.enable()
    assert seen["ok"][0][3] is None and seen["ok"][0][1]["subj"]
    assert seen["bad"][0][3] is not None
    assert "node budget" in seen["budget"][0][3]
    for doc_id, (with_gc, without_gc) in seen.items():
        assert with_gc == without_gc, doc_id
