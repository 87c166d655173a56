"""Codec/coercion tests (model: reference tests/topic_store/test_type_coercion.py
and test_data_sanitation.py)."""

import datetime

import pytest

from topic_store_spark import TopicStore
from topic_store_spark.codec import (
    DocumentCodec,
    TypeParser,
    infer_schema,
    register_message_class,
    rosify_dict,
    sanitise_dict,
)
from topic_store_spark.objectid import generation_time_py, new_object_id


def test_key_stringification_and_set_coercion():
    # parity: test_type_coercion.py:19-23
    out = sanitise_dict({"0": 0, 1: [1, 1], 2.0: {1, 1, 1}})
    assert out == {"0": 0, "1": [1, 1], "2.0": [1]}


def test_tuple_and_set_become_list():
    out = sanitise_dict({"t": (1, 2, 3, 4, 5), "s": {1, 2, 3, 4, 5}})
    assert out["t"] == [1, 2, 3, 4, 5]
    assert sorted(out["s"]) == [1, 2, 3, 4, 5]


def test_bytes_utf8_vs_binary():
    # parity: test_type_coercion.py:48-50
    out = sanitise_dict({"a": "hello".encode("utf-8"), "b": "hello".encode("utf-16")})
    assert out["a"] == "hello"
    assert isinstance(out["b"], bytearray)


def test_datetime_passthrough():
    now = datetime.datetime.now()
    assert sanitise_dict({"d": now})["d"] == now


def test_converter_override():
    # parity: test_type_coercion.py converter override int<->float
    parser = TypeParser()
    parser.add_converters({int: float})
    codec = DocumentCodec(parser)
    out = sanitise_dict({"x": 1}, codec)
    assert isinstance(out["x"], float)


def test_non_dict_root_rejected():
    with pytest.raises(ValueError):
        sanitise_dict([1, 2, 3])


class FakeMsg:
    __slots__ = ("seq", "frame_id")
    _type = "test_msgs/Fake"

    def __init__(self, seq, frame_id):
        self.seq = seq
        self.frame_id = frame_id


def test_message_decomposition_and_rehydration():
    # parity: test_data_sanitation.py — _ros_meta.type preserved; class identity back
    out = sanitise_dict({"m": FakeMsg(7, "base")})
    assert out["m"]["seq"] == 7
    assert out["m"]["_ros_meta"]["type"] == "test_msgs/Fake"
    register_message_class("test_msgs/Fake", FakeMsg)
    back = rosify_dict(out)
    assert isinstance(back["m"], FakeMsg)
    assert back["m"].frame_id == "base"


def test_nested_permutations_dict_list_object():
    out = sanitise_dict({"a": [{"b": [FakeMsg(1, "x"), FakeMsg(2, "y")]}]})
    assert out["a"][0]["b"][1]["frame_id"] == "y"


def test_topic_store_system_fields():
    ts = TopicStore({"name": "test", "n": 1})
    assert len(ts.id) == 24
    assert ts.session is not None
    assert ts["name"] == "test"
    assert ts.dict["_ts_meta"]["sys_time"] > 0
    assert abs(generation_time_py(ts.id) - ts.dict["_ts_meta"]["sys_time"]) < 5


def test_flatten_dotted_paths():
    ts = TopicStore({"robot": {"cam": FakeMsg(1, "f")}})
    flat = ts.flatten_ros_msg_dict()
    assert "robot.cam" in flat


def test_objectid_unique_and_hex():
    ids = {new_object_id() for _ in range(1000)}
    assert len(ids) == 1000
    assert all(len(i) == 24 and int(i, 16) >= 0 for i in ids)


def test_schema_inference_merge():
    docs = [
        {"a": 1, "b": {"x": 1.0}},
        {"a": 2.5, "b": {"x": 2, "y": "s"}, "c": [1, 2]},
    ]
    schema = infer_schema(docs)
    assert schema["a"].dataType.typeName() == "double"
    assert schema["c"].dataType.typeName() == "array"
    b = schema["b"].dataType
    assert {f.name for f in b.fields} == {"x", "y"}


def test_empty_and_all_null_lists_take_their_type_from_evidence(spark, tmp_path):
    from pyspark.sql import types as T

    from topic_store_spark.filesystem import ParquetStorage

    doubles = T.ArrayType(T.DoubleType())
    ref = T.StructType([T.StructField("scan", doubles)])
    # an empty or all-null list carries no element type: the store's
    # reference decides, and a sibling document in the same batch widens it
    assert infer_schema([{"scan": []}], reference=ref)["scan"].dataType == doubles
    assert infer_schema([{"scan": [None]}], reference=ref)["scan"].dataType == doubles
    assert infer_schema([{"scan": []}, {"scan": [1.0]}])["scan"].dataType == doubles
    assert infer_schema([{"scan": [None]}, {"scan": [1.0]}])["scan"].dataType == doubles
    # with no evidence at all the string placeholder stays
    assert infer_schema([{"scan": []}])["scan"].dataType == T.ArrayType(T.StringType())

    store = ParquetStorage(spark, str(tmp_path / "scans.parquet"))
    store.insert_many([{"scan": [1.0, 2.0]}])
    ids = store.insert_many([{"scan": []}, {"scan": [None]}])
    assert store.to_df().schema["scan"].dataType == doubles
    assert store.find_by_id(ids[0])["scan"] == []
    assert store.find_by_id(ids[1])["scan"] == [None]


def test_spark_roundtrip_documents(spark, tmp_path):
    from topic_store_spark.filesystem import ParquetStorage

    store = ParquetStorage(spark, str(tmp_path / "col.parquet"))
    doc_id = store.insert_one({"name": "t", "nested": {"k": [1, 2]}, "f": 0.5})
    got = store.find_by_id(doc_id)
    assert got["name"] == "t"
    assert got["nested"]["k"] == [1, 2]
    assert got["_ts_meta"]["session"] is not None


# ---------------------------------------------------------------------------
# U2: callback-parameterized tree rewriter (reference sanitation.py:169-282,
# exercised in the spirit of the reference's nested-permutation sanitation
# test, tests/topic_store/test_data_sanitation.py:15-70 — nested containers,
# shared substructure, type preservation)
# ---------------------------------------------------------------------------


def test_dict_converter_default_roundtrip_preserves_types():
    from topic_store_spark.codec import DictConverter

    tree = {
        "d": {"x": 1, "y": [1, 2, (3, 4)]},
        "t": (1, {"inner": "s"}),
        "s": {9, 10},
        "f": frozenset([7]),
        "leaf": "text",
        "b": b"\x00\xff",
    }
    out = DictConverter()(tree)
    assert out == tree and out is not tree
    assert isinstance(out["t"], tuple) and isinstance(out["t"][1], dict)
    assert isinstance(out["d"]["y"][2], tuple)
    assert isinstance(out["s"], set) and isinstance(out["f"], frozenset)
    assert out["b"] == b"\x00\xff"


def test_dict_converter_visit_remaps_with_parents():
    from topic_store_spark.codec import DictConverter

    seen = []

    def visit(parents, key, value):
        seen.append((parents, key))
        if isinstance(value, str):
            return key, value.upper()
        return key, value

    out = DictConverter(visit_fn=visit)({"a": {"b": ["x", "y"]}, "c": "z"})
    assert out == {"a": {"b": ["X", "Y"]}, "c": "Z"}
    # parents exclude the root, include ancestor keys down to the item
    assert (("a", "b"), 0) in seen and (("a", "b"), 1) in seen
    assert ((), "c") in seen and ((), "a") in seen


def test_dict_converter_enter_prunes_subtrees():
    from topic_store_spark.codec import DictConverter

    def enter(parents, key, value):
        if isinstance(value, dict) and value.get("_skip"):
            return "<pruned>", False  # leaf-ify: do not descend
        return DictConverter.default_enter_fn(parents, key, value)

    tree = {"keep": {"n": 1}, "drop": {"_skip": True, "secret": "x"}}
    out = DictConverter(enter_fn=enter)(tree)
    assert out == {"keep": {"n": 1}, "drop": "<pruned>"}


def test_dict_converter_exit_rewrites_containers():
    from topic_store_spark.codec import DictConverter

    def exit_fn(parents, key, old, shell, items):
        done = DictConverter.default_exit_fn(parents, key, old, shell, items)
        if isinstance(done, dict):
            done["_n_keys"] = len(items)
        return done

    out = DictConverter(exit_fn=exit_fn)({"a": {"b": 1, "c": 2}})
    assert out["_n_keys"] == 1 and out["a"]["_n_keys"] == 2


def test_dict_converter_shared_substructure_converts_once():
    from topic_store_spark.codec import DictConverter

    shared = {"k": [1, 2]}
    out = DictConverter()({"one": shared, "two": shared})
    assert out["one"] is out["two"]  # id-memoized like the reference


def test_dict_converter_requires_dict_root():
    import pytest as _pytest

    from topic_store_spark.codec import DictConverter

    with _pytest.raises(TypeError):
        DictConverter()([1, 2, 3])
    with _pytest.raises(TypeError):
        DictConverter(enter_fn=42)
