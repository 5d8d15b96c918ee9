"""HCL parser unit tests — value-shape parity with the kics Terraform parser
(the contract the reference's builders consume; SURVEY.md §2.2 P1, §7.4)."""

import pathlib

import pytest

from steampipe_plugin_terraform_spark.hcl import parse_document, parse_file

FIXTURE = pathlib.Path(__file__).parent / "fixtures" / "config" / "main.tf"


@pytest.fixture(scope="module")
def doc():
    return parse_document(FIXTURE.read_text())


@pytest.fixture(scope="module")
def blocks():
    return parse_file(FIXTURE.read_text())


def test_literals_native(doc):
    res = doc["resource"]["aws_instance"]["app_server"]
    assert res["ami"] == "ami-830c94e3"
    assert res["count"] == 2
    assert res["tags"] == {"Name": "ExampleAppServerInstance"}


def test_expression_becomes_interp_string(doc):
    res = doc["resource"]["aws_instance"]["app_server"]
    assert res["instance_type"] == "${var.instance_type}"
    b = doc["resource"]["aws_s3_bucket"]["b"]
    assert b["count"] == "${local.cost_center}"
    assert b["provider"] == "${aws.east}"


def test_depends_on_list_of_refs(doc):
    res = doc["resource"]["aws_instance"]["app_server"]
    assert res["depends_on"] == ["${aws_s3_bucket.b}"]


def test_nested_block_single_vs_repeated(doc):
    res = doc["resource"]["aws_instance"]["app_server"]
    assert res["lifecycle"] == {"create_before_destroy": True}
    filters = doc["data"]["aws_ami"]["ubuntu"]["filter"]
    assert isinstance(filters, list) and len(filters) == 2
    assert filters[0] == {"name": "name", "values": ["ubuntu/images/*"]}


def test_repeated_provider_blocks_become_list(doc):
    providers = doc["provider"]["aws"]
    assert isinstance(providers, list) and len(providers) == 2
    assert providers[0] == {"region": "us-west-2"}
    assert providers[1]["alias"] == "east"
    assert providers[1]["version"] == "~> 4.0"


def test_repeated_locals_blocks_become_list(doc):
    locs = doc["locals"]
    assert isinstance(locs, list) and len(locs) == 2
    assert locs[0] == {"owner": "team-a"}
    assert locs[1]["cost_center"] == 42
    assert locs[1]["tags"] == {"env": "dev"}


def test_variable_type_keyword_is_interp(doc):
    var = doc["variable"]["instance_type"]
    assert var["type"] == "${string}"
    assert var["default"] == "t2.micro"
    assert var["sensitive"] is True


def test_function_call_expression(doc):
    mod = doc["module"]["vpc"]
    assert mod["for_each"] == '${toset(["a", "b"])}'
    assert mod["source"] == "terraform-aws-modules/vpc/aws"


def test_output_reference(doc):
    out = doc["output"]["bucket_arn"]
    assert out["value"] == "${aws_s3_bucket.b.arn}"
    assert out["sensitive"] is True


def test_validation_nested_block(doc):
    var = doc["variable"]["instance_type"]
    v = var["validation"]
    assert v["condition"] == "${length(var.instance_type) > 0}"
    assert v["error_message"] == "required"


def test_block_positions(blocks):
    text = FIXTURE.read_text().split("\n")
    for blk in blocks:
        header = text[blk.start_line - 1]
        assert blk.block_type in header
        assert text[blk.end_line - 1].strip().endswith("}")
    res = [b for b in blocks if b.block_type == "resource" and b.labels == ["aws_instance", "app_server"]]
    assert len(res) == 1
    # the block spans header line through closing brace
    assert text[res[0].start_line - 1].startswith('resource "aws_instance" "app_server"')


def test_empty_block(doc):
    assert doc["resource"]["aws_sqs_queue"]["empty"] == {}


def test_heredoc():
    doc = parse_document('resource "aws_iam_policy" "p" {\n  policy = <<EOF\n{"Version": "2012-10-17"}\nEOF\n}\n')
    assert doc["resource"]["aws_iam_policy"]["p"]["policy"] == '{"Version": "2012-10-17"}\n'


def test_indented_heredoc():
    doc = parse_document('locals {\n  x = <<-EOT\n    hello\n    world\n  EOT\n}\n')
    assert doc["locals"]["x"] == "hello\nworld\n"


def test_string_with_interpolation_kept_verbatim():
    doc = parse_document('locals {\n  name = "prefix-${var.env}-suffix"\n}\n')
    assert doc["locals"]["name"] == "prefix-${var.env}-suffix"


def test_escapes_unescaped_when_no_interp():
    doc = parse_document('locals {\n  s = "a\\"b\\nc"\n}\n')
    assert doc["locals"]["s"] == 'a"b\nc'


def test_null_argument_does_not_crash():
    # CHANGELOG.md:111 regression: null-valued arguments must parse
    doc = parse_document('resource "r" "n" {\n  x = null\n}\n')
    assert doc["resource"]["r"]["n"]["x"] is None


def test_numbers():
    doc = parse_document("locals {\n  a = 1\n  b = 1.5\n  c = -3\n  d = 1e3\n}\n")
    assert doc["locals"] == {"a": 1, "b": 1.5, "c": -3, "d": 1000.0}


def test_ternary_and_arith_are_raw():
    doc = parse_document('locals {\n  t = var.x ? 1 : 2\n  m = 1 + var.y\n}\n')
    assert doc["locals"]["t"] == "${var.x ? 1 : 2}"
    assert doc["locals"]["m"] == "${1 + var.y}"


def test_for_expression_raw():
    doc = parse_document('locals {\n  l = [for s in var.list : upper(s)]\n}\n')
    assert doc["locals"]["l"] == "${[for s in var.list : upper(s)]}"


def test_index_and_splat():
    doc = parse_document('locals {\n  a = var.list[0]\n  b = aws_instance.x[*].id\n}\n')
    assert doc["locals"]["a"] == "${var.list[0]}"
    assert doc["locals"]["b"] == "${aws_instance.x[*].id}"


def test_comments_ignored():
    doc = parse_document('# c1\n// c2\n/* c3\nc4 */\nlocals {\n  a = 1 # trailing\n}\n')
    assert doc["locals"]["a"] == 1


def test_multiline_list():
    doc = parse_document('locals {\n  l = [\n    "a",\n    "b",\n  ]\n}\n')
    assert doc["locals"]["l"] == ["a", "b"]


def test_escaped_interpolation_unescapes():
    # HCL: $${x} evaluates to the literal ${x} (and %%{ to %{)
    doc = parse_document('locals {\n  a = "$${aws:username}"\n  b = "%%{if}"\n  c = "$5"\n}')
    assert doc["locals"]["a"] == "${aws:username}"
    assert doc["locals"]["b"] == "%{if}"
    assert doc["locals"]["c"] == "$5"


def test_mixed_labeled_unlabeled_blocks_preserved():
    # same-name blocks at different label depths must not lose data
    src = 'resource "r" "n" {\n  filter { f = 1 }\n  filter { f = 2 }\n  filter "x" { f = 3 }\n}'
    body = parse_document(src)["resource"]["r"]["n"]
    assert body["filter"] == [{"f": 1}, {"f": 2}, {"x": {"f": 3}}]


def test_invalid_unicode_escape_raises_parse_error():
    import pytest as _pytest
    from steampipe_plugin_terraform_spark.hcl.parser import HCLParseError

    with _pytest.raises(HCLParseError, match="invalid"):
        parse_document('a = "\\u12G4"')


def test_attr_after_block_same_name_preserved():
    # symmetry with _insert_block: attr following same-name blocks must not
    # silently drop the block bodies
    body = parse_document('resource "r" "n" {\n  filter { f = 2 }\n  filter = 1\n}')["resource"]["r"]["n"]
    assert body["filter"] == [{"f": 2}, 1]
    # plain attr re-assignment still last-wins (HCL attr semantics)
    body2 = parse_document("locals {\n  a = 1\n  a = 2\n}")["locals"]
    assert body2["a"] == 2


# A long run of plain string characters (consumed as one run by the
# tokenizer), then the one character or sequence that ends the run:
# (text inside the quotes after the run, STRING value after the run,
# has_interp).
_RUN = "plain text with no specials, 0-9 and (a.b/c) punctuation; " * 4
_RUN_ENDS = {
    "newline": ("\n", "\n", False),
    "newline escape": ("\\n", "\n", False),
    "unicode escape": ("\\u0041", "A", False),
    "escaped dollar": ("$${x}", "${x}", False),
    "escaped percent": ("%%{x}", "%{x}", False),
    "interpolation": ('${format("%s\n", var.a)}', '${format("%s\n", var.a)}', True),
    "interpolation and newline": ('${join(",",\n  ["\\"q\\""])}', '${join(",",\n  ["\\"q\\""])}', True),
    "directive": ("%{ if var.a }y%{ endif }", "%{ if var.a }y%{ endif }", True),
    "brace at depth 0": ("}", "}", False),
}


@pytest.mark.parametrize("case", list(_RUN_ENDS))
def test_string_run_ends_at_its_special_sequence(case):
    from steampipe_plugin_terraform_spark.hcl.parser import tokenize

    tail, value, interp = _RUN_ENDS[case]
    src = f'x = "{_RUN}{tail}"\ny = 1\n'
    end = 4 + len(_RUN) + len(tail) + 2  # x, " = ", both quotes
    last = 1 + tail.count("\n")  # line of the closing quote
    got = [(t.kind, t.value, t.line, t.start, t.end) for t in tokenize(src)]
    assert got == [
        ("IDENT", "x", 1, 0, 1),
        ("OP", "=", 1, 2, 3),
        ("STRING", _RUN + value, 1, 4, end),
        ("NEWLINE", "\n", last, end, end + 1),
        ("IDENT", "y", last + 1, end + 1, end + 2),
        ("OP", "=", last + 1, end + 3, end + 4),
        ("NUMBER", 1, last + 1, end + 5, end + 6),
        ("NEWLINE", "\n", last + 1, end + 6, end + 7),
        ("EOF", None, last + 2, end + 7, end + 7),
    ]
    assert tokenize(src)[2].has_interp is interp
