"""Byte-identity pins for the format writer.

Seeded arrays in the FIXTURES.md shapes are written with lz4 and zstd,
adaptive on (``compress_ratio`` 2.0) and off (``None``), and the sha256 of
every ``.quiver`` file and its ``.stats.json`` sidecar is compared with the
digest recorded when the pin was taken. A codec kernel rewrite must pick the
same codec and write the same bytes, so any change here is a format change:
every reader (Python, JVM, reference) and every stored-bytes figure is
affected and the pin must be re-taken on purpose, not to make a test pass.

Regenerate (only for an intended format change) with
``python tests/test_format_pins.py``, which prints the PINS literal.
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from quiver_spark.format.reader import read_table  # noqa: E402
from quiver_spark.format.writer import WriteOptions, write_table  # noqa: E402

N = 10_000
PAGE = 2048  # the reference test page size (tests/it/io.rs:46)
CODECS = ("lz4", "zstd")
RATIOS = (2.0, None)


def _shapes() -> dict[str, pa.Array]:
    rng = np.random.default_rng(42)

    def nulls(p):
        return rng.random(N) < p

    words = np.array([f"value-{i}" for i in range(8)], dtype=object)
    top = rng.random(N) < 0.95
    freq_i64 = np.where(top, 20, rng.integers(256, 1 << 40, N))
    freq_utf8 = np.where(top, "top-value", np.char.add("x-", np.arange(N).astype(str)))
    lens = rng.integers(0, 4, N)
    null_lists = nulls(0.1)
    lens[null_lists] = 0
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    items = pa.array(
        rng.integers(0, 1000, int(offsets[-1])).astype(np.int32),
        mask=rng.random(int(offsets[-1])) < 0.2,
    )
    return {
        # F2 random, cardinality ~ row count
        "f2_i64": pa.array(rng.integers(0, N, N, dtype=np.int64)),
        "f2_utf8": pa.array(rng.integers(0, N, N).astype(str)),
        "f2_bool": pa.array(rng.random(N) < 0.5),
        # F4 dict-shaped: 8 distinct values with nulls
        "f4_utf8": pa.array(words[rng.integers(0, 8, N)], mask=nulls(0.1)),
        "f4_i32": pa.array(rng.integers(0, 8, N).astype(np.int32) * 1000, mask=nulls(0.2)),
        "f4_f64": pa.array(rng.integers(0, 8, N) * 1.5, mask=nulls(0.3)),
        # Dict with ~600 distinct values: first-appearance codes give each
        # 128-value block of a page its own BitPacker4x width
        "dict_i64_mixed_width": pa.array(rng.integers(0, 600, N) * 7919),
        "dict_utf8_mixed_width": pa.array(
            np.char.add("k", rng.integers(0, 600, N).astype(str)).astype(object),
            mask=nulls(0.05),
        ),
        # F6 bitpack-shaped: non-negative int32, too many distinct for Dict
        "f6_i32": pa.array(rng.integers(0, 5000, N).astype(np.int32), mask=nulls(0.1)),
        # F7 delta-shaped: sorted sequences
        "f7_i64": pa.array(np.cumsum(rng.integers(0, 4, N, dtype=np.int64))),
        "f7_i32": pa.array(np.cumsum(rng.integers(0, 40, N)).astype(np.int32)),
        # F9 smooth doubles with nulls (Patas territory)
        "f9_f64": pa.array(
            np.round(np.cumsum(rng.normal(0, 0.01, N)) + 100.0, 3), mask=nulls(0.1)
        ),
        # F10 list<int32>: 0-3 items, 10 % null lists, 20 % null items
        "f10_list": pa.ListArray.from_arrays(pa.array(offsets), items, mask=pa.array(null_lists)),
        # Freq-eligible: >= 90 % one value
        "freq_i64": pa.array(freq_i64, mask=nulls(0.02)),
        "freq_utf8": pa.array(freq_utf8.astype(object), mask=nulls(0.02)),
        # RLE-eligible: runs of 7, ~290 runs a page (enough that Dict's
        # 9-bit codes cost more than the runs)
        "rle_i64": pa.array(np.repeat(rng.integers(0, 1 << 40, N // 7 + 1), 7)[:N]),
        **_nested_shapes(),
        **_boundary_shapes(),
    }


def _boundary_shapes() -> dict[str, pa.Array]:
    """Pages at the edges of the adaptive chooser: distinct counts either
    side of the Dict limit (3·distinct < rows), a first half full of
    duplicates ahead of a high-cardinality second half, strings with
    leading nulls (with and without ``""`` among the values), an all-null
    page, f64 Dict pages holding both zeros or NaN, and a final page of 5
    rows. Own generator, so the shapes above keep their values."""
    rng = np.random.default_rng(44)
    n = 4 * PAGE + 5
    third = -(-PAGE // 3)  # ceil: the fewest distinct values that rule out Dict

    def paged(draw_page):
        return np.concatenate([draw_page(min(PAGE, n - s)) for s in range(0, n, PAGE)])

    def k_distinct(k):
        # each of k values first appears in the page's first half
        def page(m):
            kk = min(k, m)
            head = rng.permutation(kk) * 7919
            return np.concatenate([head, rng.choice(head, m - kk)])
        return paged(page)

    def half_dups(m):
        h = m // 2
        return np.concatenate([rng.integers(0, 50, h), 1000 + rng.permutation(m - h)])

    def leading_nulls(p):
        mask = rng.random(n) < p
        mask[(np.arange(n) % PAGE) < 3] = True
        return mask

    def as_str(a):
        return np.char.add("s", a.astype(str)).astype(object)

    def one_null_page():
        mask = rng.random(n) < 0.1
        mask[PAGE : 2 * PAGE] = True
        return mask

    words = np.array([f"w{i}" for i in range(8)], dtype=object)
    with_empty = np.array(["", "a", "b", "c"], dtype=object)
    top = rng.random(n) < 0.95
    zeros = np.array([0.0, -0.0, 1.5, 2.5])
    return {
        "b_i64_third_below": pa.array(k_distinct(third - 1)),
        "b_i64_third_at": pa.array(k_distinct(third)),
        "b_utf8_third_below": pa.array(as_str(k_distinct(third - 1))),
        "b_utf8_third_at": pa.array(as_str(k_distinct(third))),
        "b_f64_third_at": pa.array(k_distinct(third) / 8.0),
        "b_i64_half_dups": pa.array(paged(half_dups)),
        "b_utf8_half_dups": pa.array(as_str(paged(half_dups))),
        "b_i64_many_nulls": pa.array(rng.permutation(n), mask=rng.random(n) < 0.6),
        "b_utf8_leading_nulls": pa.array(words[rng.integers(0, 8, n)], mask=leading_nulls(0.1)),
        "b_utf8_leading_nulls_empty": pa.array(
            with_empty[rng.integers(0, 4, n)], mask=leading_nulls(0.1)
        ),
        "b_utf8_leading_nulls_plain": pa.array(as_str(rng.permutation(n)), mask=leading_nulls(0.1)),
        "b_utf8_leading_nulls_freq": pa.array(
            np.where(top, "top", as_str(np.arange(n))).astype(object), mask=leading_nulls(0.02)
        ),
        "b_i64_all_null_page": pa.array(rng.integers(0, 8, n), mask=one_null_page()),
        "b_f64_all_null_page": pa.array(rng.integers(0, 8, n) * 0.5, mask=one_null_page()),
        "b_utf8_all_null_page": pa.array(words[rng.integers(0, 8, n)], mask=one_null_page()),
        "b_f64_signed_zero": pa.array(zeros[rng.integers(0, 4, n)], mask=rng.random(n) < 0.1),
        "b_f64_nan": pa.array(
            np.array([np.nan, 1.0, 2.0, -3.0])[rng.integers(0, 4, n)], mask=rng.random(n) < 0.1
        ),
    }


def _nested_shapes() -> dict[str, pa.Array]:
    """Nested columns with nulls at every level: each shape exercises
    another branch of the Dremel shredder and assembler (nested.py). Own
    generator, so the flat shapes above keep their values."""
    rng = np.random.default_rng(43)

    def maybe(value, p):
        return None if rng.random() < p else value

    def ints(k, lo=-1000, hi=1000):
        return [maybe(int(v), 0.2) for v in rng.integers(lo, hi, k)]

    def words(k):
        return [f"w{v}" for v in rng.integers(0, 50, k)]

    def lists(draw, p_null=0.1):
        return [maybe(draw(int(rng.integers(0, 4))), p_null) for _ in range(N)]

    def structs(k):
        return [maybe({"x": x, "y": y}, 0.1) for x, y in zip(ints(k), words(k))]

    sliced = 37
    sliced_rows = [maybe(ints(int(rng.integers(0, 5))), 0.1) for _ in range(N + 2 * sliced)]
    return {
        "nested_struct": pa.array(
            structs(N), type=pa.struct([("x", pa.int64()), ("y", pa.string())])
        ),
        "nested_map": pa.array(
            lists(lambda k: list(zip(words(k), ints(k)))),
            type=pa.map_(pa.string(), pa.int32()),
        ),
        "nested_list_list": pa.array(
            lists(lambda k: [maybe(ints(int(rng.integers(0, 4))), 0.1) for _ in range(k)]),
            type=pa.list_(pa.list_(pa.int32())),
        ),
        "nested_list_struct": pa.array(
            lists(structs),
            type=pa.list_(pa.struct([("x", pa.int64()), ("y", pa.string())])),
        ),
        "nested_fixed_size_list": pa.array(
            [maybe([maybe(float(v), 0.2) for v in rng.normal(0, 1, 3)], 0.1) for _ in range(N)],
            type=pa.list_(pa.float64(), 3),
        ),
        "nested_large_list": pa.array(lists(ints), type=pa.large_list(pa.int64())),
        # non-zero offset on the first page too, child range not at 0
        "nested_sliced_list": pa.array(sliced_rows, type=pa.list_(pa.int32())).slice(sliced, N),
    }


def _case_id(shape: str, codec: str, ratio) -> str:
    return f"{shape}-{codec}-{'adaptive' if ratio else 'basic'}"


def _sha256(path: Path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


def _write(arr: pa.Array, codec: str, ratio, path: Path) -> pa.Table:
    table = pa.table({"c": arr})
    write_table(
        table, str(path),
        WriteOptions(default_codec=codec, compress_ratio=ratio, max_page_size=PAGE),
    )
    return table


CASES = [(s, c, r) for s in _shapes() for c in CODECS for r in RATIOS]

#: case id -> (sha256 of the .quiver file, sha256 of its .stats.json)
PINS: dict[str, tuple[str, str]] = {
    "f2_i64-lz4-adaptive": (
        "00fe970435b3ea19cc39e5e57ae936427732512967376fe27bec3a73bdd55e04",
        "a8bf49bd1abc2123c1809358feccff9aac0b4da0a8610b50707ce168988a87cc"),
    "f2_i64-lz4-basic": (
        "00fe970435b3ea19cc39e5e57ae936427732512967376fe27bec3a73bdd55e04",
        "a8bf49bd1abc2123c1809358feccff9aac0b4da0a8610b50707ce168988a87cc"),
    "f2_i64-zstd-adaptive": (
        "dc9264a96f28f4df8134666c0bb7b875a3ce0d075d035e76723d61cab39f5d6d",
        "02d4f1ad948760f9dcfbc553e1d4b1e39f588dafb5cc589debb935dd0b428d4f"),
    "f2_i64-zstd-basic": (
        "dc9264a96f28f4df8134666c0bb7b875a3ce0d075d035e76723d61cab39f5d6d",
        "02d4f1ad948760f9dcfbc553e1d4b1e39f588dafb5cc589debb935dd0b428d4f"),
    "f2_utf8-lz4-adaptive": (
        "ae8228d0c845e9e6e9eb963c51ea3a23e060f5320aabf88379904de34696d53c",
        "295f05c895afdf7e974f16f8e50f503b39e6145de8914ec49459e136ef461287"),
    "f2_utf8-lz4-basic": (
        "ae8228d0c845e9e6e9eb963c51ea3a23e060f5320aabf88379904de34696d53c",
        "295f05c895afdf7e974f16f8e50f503b39e6145de8914ec49459e136ef461287"),
    "f2_utf8-zstd-adaptive": (
        "4abf62ee50094d66086089537fac4ae0b3f7499567ac13db277bb7c797dc5a5a",
        "ee877e83390888ea66358e9c2ce3aae1ac7e65a015457555b2acb006eb1c6051"),
    "f2_utf8-zstd-basic": (
        "4abf62ee50094d66086089537fac4ae0b3f7499567ac13db277bb7c797dc5a5a",
        "ee877e83390888ea66358e9c2ce3aae1ac7e65a015457555b2acb006eb1c6051"),
    "f2_bool-lz4-adaptive": (
        "60fa9f7d72d22ca4364bb719c0a90bfaab919a95e30e05d726213e06d838275e",
        "3283085178807213a2a2d1db83beaa7ef80e0bace574cff9a8045a6daa8fb7b7"),
    "f2_bool-lz4-basic": (
        "60fa9f7d72d22ca4364bb719c0a90bfaab919a95e30e05d726213e06d838275e",
        "3283085178807213a2a2d1db83beaa7ef80e0bace574cff9a8045a6daa8fb7b7"),
    "f2_bool-zstd-adaptive": (
        "c0a08d580c656a78951ed725bf2b1f12417449e8374b4a4bba0c377ffaaf1092",
        "2e4b4d11b1a4fae3104a47817d7aa1f8bf1b7212a83379972d59c49d9af94627"),
    "f2_bool-zstd-basic": (
        "c0a08d580c656a78951ed725bf2b1f12417449e8374b4a4bba0c377ffaaf1092",
        "2e4b4d11b1a4fae3104a47817d7aa1f8bf1b7212a83379972d59c49d9af94627"),
    "f4_utf8-lz4-adaptive": (
        "c293ea550604a7eed49fba32bfe57c2ca36ac90ad40f8a1997b676f866635c05",
        "1056c4e1e345ed5d6c683b6a31ccad4441d73ad7a3f7235b411e9cccaa0e1c8b"),
    "f4_utf8-lz4-basic": (
        "af33dfb2a10d8ba2798ae2822e016421edf2ebb19a6bed090b9c03b5b85a68d8",
        "6fc67145337095dc38655ada67b176240c037f1815d9e1fe90af2bda7b5e41ad"),
    "f4_utf8-zstd-adaptive": (
        "405b274826a79a04da6d7cab48c2f7b54adb7095039cd508125302f9b8dbc27d",
        "458c70a73da3cc6c8808a1ba9e04078e437567edc46524e686ec84176e861047"),
    "f4_utf8-zstd-basic": (
        "b8f3cc698e88229785f42b51b13afc63578ed41c6ff64e70375492af1ca27262",
        "32fcf08b6514a1747c711bf1edfbecb685eaf8e6a99bbf70b6266f3cb775e768"),
    "f4_i32-lz4-adaptive": (
        "726eea1b23e6b3b3943c6cfaa60db3d92ed4587fc62526d11d45a4b3ceb73a6b",
        "fa3c09ada3c475089450c3bfd3c43731e6bf29983a26cc32bf189e0703eba703"),
    "f4_i32-lz4-basic": (
        "c818d8402c526606c77bc3837ba492e1af47e385498b2af9cbed275dbf1eb474",
        "2bcd2e747cfa0e57ab91d005daa45c32f5c022dcb0832af19a4b6859072acd25"),
    "f4_i32-zstd-adaptive": (
        "781b024e28ddad33b9de33dc71a731e33f5e5cb05d8b4d809b0eda90d07d3ff9",
        "f1cb9ee05eb8ef31758b2f334b33c7b27fd21d24256c8f8afe822496a83a4d34"),
    "f4_i32-zstd-basic": (
        "1e1ae32d3d2fa08aa56ca78f031663a1418a159456fba1bc81645215669214db",
        "dd42c557aa57e9b1f89a12e611207e0dbf181b87c815eebd58094943e76abcd9"),
    "f4_f64-lz4-adaptive": (
        "f71b9da68a0bfd24e21d447556f90a73c350f79b522a7161a7f648afb76940f8",
        "6db8d255a6a54ed6893869055665db7c457b4b4a601d3c5b3412073d98e50452"),
    "f4_f64-lz4-basic": (
        "d9c77782c9ee5c0cc85d7f0bcd10fbbcca49b47d478db9e69f6490f0d0ebe6de",
        "56516cd3fea1bfaa1d7485f319bac511e940e74983638dcac6cb8aad68f17b94"),
    "f4_f64-zstd-adaptive": (
        "4df2d186cb9858a9081d6d0648c105f066effa4dea1fbb373a80fc7463991eb1",
        "168838d7f4f87aba55314e7458cef5757b7db7cd4a890c70f98fe3045c2c1fc7"),
    "f4_f64-zstd-basic": (
        "52b48b414987a81649b2e5982bb32ffbbefbb07e0ae01fe7ae8cbd7bdd39f1f1",
        "7193e8f8c489164d298553573af50da2aec6aa1f35184aa0bfd162ad8a0e9cc3"),
    "dict_i64_mixed_width-lz4-adaptive": (
        "a598e7bdab787235869d04ad1c9f5ecafae1a1ee6bc089d4224b54d25affb880",
        "1a1f490e8fa7a9a0356a8a66b43ed757db977cb102770eb4d04131a3c4e9f63a"),
    "dict_i64_mixed_width-lz4-basic": (
        "b4d10158fd03e4b22b03916eb5675644a2c9666b2092c561b0395bdfb0e0e8a2",
        "fbe5e72d91868c29e178e83f2d11500dfc8a8263047e88121f1dc906798ad6a2"),
    "dict_i64_mixed_width-zstd-adaptive": (
        "38e9b68c628104359516117550f7da09413ea260b7ddfe435d49b7d7c6d1a6fb",
        "037b338bbe2182d990dba5c98c02e7ab9b6e2ee3397a86218e535d1ee6a9da30"),
    "dict_i64_mixed_width-zstd-basic": (
        "00750b4cd06f60cea5338c4e560a1b17bb7c5b2afd5f83624d0a4e4133c4bf3c",
        "a2c81840afe9befce711d4dbe497dc8ed60574689f0001759ab58083a31f4e08"),
    "dict_utf8_mixed_width-lz4-adaptive": (
        "51ca35c091907da505cb0417d6e754d65e5f3198b064710d1a25aefb025dc970",
        "784d57dd52bc7f321744d4dc0a186dc5594f7c28a10420a96dd63b74d0e1f3ac"),
    "dict_utf8_mixed_width-lz4-basic": (
        "f9aff9a7dbdf55fa9d8ad69f8862cc7df64ec9ca55440092124bf95953c5a576",
        "8362ba2f082f3b52b067aa665d3303daf99ea2cbb043ba8b3bd1d2a93520c70e"),
    "dict_utf8_mixed_width-zstd-adaptive": (
        "e2b08764a7cb5607b6fcb142d606b80e7026485e8f2202d545728deba106ff7d",
        "edff45e76751b0e7c06d80c41b925c9f4db5abb6b6a504aac5fa6d59b55ba507"),
    "dict_utf8_mixed_width-zstd-basic": (
        "eea272d6038126cb28ccbcd3d9dd3128e7d96f905d0334eff81c604051d83e78",
        "06def76ee0a4c3b832eec775593df0bf942f97f3725ac93b3288ef9ab3215586"),
    "f6_i32-lz4-adaptive": (
        "574a0a9b067a7a643864e4e12417379bd45de3b0a1d1222c6cddc5b29bcaa575",
        "589486c42e554265c27fe4e90032f1d03b1ba4cf75591dd154692cab196fb73d"),
    "f6_i32-lz4-basic": (
        "8bdca1a8a41b6d274aed8e384bb618d53dd7bac7ead7843b205cd9024cd7c69d",
        "932ec313703b9865a5d1984c7d20e41190b0443434d7ba9662756e6844ab4846"),
    "f6_i32-zstd-adaptive": (
        "64a5d4fd8ff5a15d8c092fcb7ea3621c1d44121cfa6e1447706e142708f29b78",
        "21efc107c927d52be13b9636caabd15ac1618f4c82af7faf3a970ee6623939ff"),
    "f6_i32-zstd-basic": (
        "415fccddb69670a82bab30de94558f25e04123a4a1a8cd90f5aac47ad9f0f38c",
        "c8c7a73be1c2a24f7e9a6f8cf74ebc556aa35657be60b3d080e5dfc5df345fae"),
    "f7_i64-lz4-adaptive": (
        "ee30463a63d4fc6fa6ee561635cbbc691e31487a344002f462ab2470eaa4d6ee",
        "7976d42654d80585101e36a4cae80c9b6e8a9db614d27f4bbf906794567033f6"),
    "f7_i64-lz4-basic": (
        "ee30463a63d4fc6fa6ee561635cbbc691e31487a344002f462ab2470eaa4d6ee",
        "7976d42654d80585101e36a4cae80c9b6e8a9db614d27f4bbf906794567033f6"),
    "f7_i64-zstd-adaptive": (
        "157104b711b4d6adcb4db930a43435961b2f19b259a733c4f352d1615d008cea",
        "5197dbf4c7021feae420bc1dd233a8b96fddbbf8ca3f40f794be1ce84c1a3c34"),
    "f7_i64-zstd-basic": (
        "157104b711b4d6adcb4db930a43435961b2f19b259a733c4f352d1615d008cea",
        "5197dbf4c7021feae420bc1dd233a8b96fddbbf8ca3f40f794be1ce84c1a3c34"),
    "f7_i32-lz4-adaptive": (
        "290edd0ffd82e63dbe54932ecb96c265cf4f4aa0b7f60f2ca22f8f98e61b57a6",
        "4284fa29b5e1814f2e8d14085b51270e2c02b4af3e1ab28cd446381408a5d246"),
    "f7_i32-lz4-basic": (
        "09ed8c6a79480bfdb65a54df7a9e3b12e22484a78b910c4b5e72788ecb268a37",
        "45c891d90504dccfb572ca08af5626ba75bd7c8e8046afe30ded929b8e08edd2"),
    "f7_i32-zstd-adaptive": (
        "6808c07f8ff628c45048105d56f754c91bcbaf79f89e1b2c70087a4a26b9a40a",
        "55f396c972f8953d399c57e50ac6108818a3911fab456b301b7576598cac59ed"),
    "f7_i32-zstd-basic": (
        "dd11fbd6248a8f07eb884b8523c03d945c6abf03aa37011df60cce10377ef9d7",
        "3651ecbd8242eb16a5b9fce3c0e98eb097d56a86b96c9fb34fdaafeaf541a81e"),
    "f9_f64-lz4-adaptive": (
        "d29bfc6387d1b6ecf6fee70fffeb913bb131731c567f212dd894178475ec88cb",
        "3fcdfaaedce94ac235f88951632844e78576b966e804d119d0aadf9be36df9b3"),
    "f9_f64-lz4-basic": (
        "9c980cdbd44c5eefa3906f8dde74878b2b3f01a0766eafde9df7af110a2a300d",
        "0645a3baf076fa09235ce73134cbf91a2d11acb148553ef092b32116233887cd"),
    "f9_f64-zstd-adaptive": (
        "29cba9a63cd12b1955e8999bff3c264c65cf85d79c5f56604d4d26d596300231",
        "71bce0e251e184ac433be841e99c3ef50ee849b08e0313f671cd13c21a0f04bb"),
    "f9_f64-zstd-basic": (
        "53109f979ae0a88593adc58ef367ad723ed324200673c79584d43079fb433370",
        "085fe94cd2d32e397e7e67f5dc7d72ccb0e3baf7ec54a96e70dcbf0c6d23f944"),
    "f10_list-lz4-adaptive": (
        "d55d12616f3ebc4f945af5f10e9d7539a36a88b1aa38441d50cf541b3ae4f2cc",
        "5706ec9f17feb23e77d7768bd944b8168c3710219f33c484ac47712f6ba0753e"),
    "f10_list-lz4-basic": (
        "d55d12616f3ebc4f945af5f10e9d7539a36a88b1aa38441d50cf541b3ae4f2cc",
        "5706ec9f17feb23e77d7768bd944b8168c3710219f33c484ac47712f6ba0753e"),
    "f10_list-zstd-adaptive": (
        "ff104fa5b760575f010945f4d2410086b2416d46ffeb8be7279f262c0ca942aa",
        "ea6fb107713772e9ee61716bab0d5d24eb6c85641be19b4b7b50bc4d094d4d97"),
    "f10_list-zstd-basic": (
        "ff104fa5b760575f010945f4d2410086b2416d46ffeb8be7279f262c0ca942aa",
        "ea6fb107713772e9ee61716bab0d5d24eb6c85641be19b4b7b50bc4d094d4d97"),
    "freq_i64-lz4-adaptive": (
        "748509a6974242d2af3d6b580d58c1b983e09451d830281d5ee1278a6f0ef582",
        "904cc3081de1e366a650eadbbcbe11636ac8d09b5deed257672c55720ee0427f"),
    "freq_i64-lz4-basic": (
        "92302b86b7eb764a13e33ccb16a797ab8a154f7d9c3557814ac771dd7243ae65",
        "7db4835959c9b0d3a71b6461a62778ff14ba7f7c9c54999581b069e471a615c4"),
    "freq_i64-zstd-adaptive": (
        "bb6f10a15abfccce5d19e656ae1eba79a104c62f370e58a0df5c33189d658b0c",
        "96d1ccf7f20a9556eb4b7c5aaa996f3b4bef871823c1e8832e1dca410e0237a8"),
    "freq_i64-zstd-basic": (
        "c1de867f03df07246674c0718db3326d2e1c961d28b24caa4af7c754a76005d6",
        "f78901ece7a2fba207dd4cebda0be27248b3d127b9d27c913d6b972826993264"),
    "freq_utf8-lz4-adaptive": (
        "7d2cb6d8e183caa78b04776b5dfdcb754af88ab76027b1dae5e091bd5ecdc877",
        "a35375f19c33cc8f66d9b33731b3ba5c4bcc9c1050e694b9231575086bc51560"),
    "freq_utf8-lz4-basic": (
        "9a42cdd4aeeed3942cded3a02659c2433e4760ac3fa8bb839da7f294bb25abc0",
        "7b76531f2c52ee599d12eaf7cc179ac4e007865e7bce6cd521ad06272a1c2612"),
    "freq_utf8-zstd-adaptive": (
        "7d2cb6d8e183caa78b04776b5dfdcb754af88ab76027b1dae5e091bd5ecdc877",
        "a35375f19c33cc8f66d9b33731b3ba5c4bcc9c1050e694b9231575086bc51560"),
    "freq_utf8-zstd-basic": (
        "2ac7cfd6b020186cb8f1ac2157e1ee572c2cfa46fe5d9469e5e08f9144f72a6a",
        "7421aaba7fdd12047c7448e1c5a6379566a68fbd92ff211950357e8206f52707"),
    "rle_i64-lz4-adaptive": (
        "5e6a798cd0daa2afc9783243a43233a47bc3ad3b594644beb9060348adebb77a",
        "6c9d4b2cffdd15bde51c971e173aaa0ae6f6743915824352730df7f932aff656"),
    "rle_i64-lz4-basic": (
        "69c8577fb68eac637aa2cc5a0c2425d50412d2e7d4cbec2b6de07b18f0b2780a",
        "3e2149417bd2506788e296ab1c03fc0a0c0d8714d885fd01aa64bcb9bd8ef0fc"),
    "rle_i64-zstd-adaptive": (
        "5e6a798cd0daa2afc9783243a43233a47bc3ad3b594644beb9060348adebb77a",
        "6c9d4b2cffdd15bde51c971e173aaa0ae6f6743915824352730df7f932aff656"),
    "rle_i64-zstd-basic": (
        "fbacab8abe8e6762cb0e7729e72754473e805a4c3f292e3ffa13c2f754744bf6",
        "62a54a5ae290d8c48e64b4589986a31bc603a3ee2e8af43946f9edfb8a47b292"),
    "nested_struct-lz4-adaptive": (
        "6e760511647771e2d3bdbfe2c9b8058df4e8990a342fa0ba1ef690f14916524a",
        "2daf7b204f2714946d220465e149779fa99d61872c6ba841eb3f448371751ca6"),
    "nested_struct-lz4-basic": (
        "44ffc821ce62861059120977e67a9b6d8172d34c44d4f6b612c764dfbd91e8e7",
        "8393dfee043f106c5ba2967beda3ffd213263f4e776bc887078f6995be0f5883"),
    "nested_struct-zstd-adaptive": (
        "2aede91396b1e5bb2cc3ac5591357f0bf68700cf3c7baa1e6c54b3d12ae64dc0",
        "876cf71becc58e7d84003ae5c6966c3574e8e9e09948a22b75b0f70cd802f093"),
    "nested_struct-zstd-basic": (
        "4b02ac178a3f55a16c23660d06c2762bfb41291e77d4b89ec15aee1775fed41e",
        "7700b10f500d5efb84b3f18a6ae0fd7f46c75bbdec5ccf2a116367c0c6d38468"),
    "nested_map-lz4-adaptive": (
        "d86bf0d547432066033010cbee9aa7267c5170d16d4e40ae173da67e02b3cb06",
        "b0f707d76d1836e09e84223c85f4ad8c96c8c2c022390ba52553183128564bb4"),
    "nested_map-lz4-basic": (
        "2df1325d605b43eb75eb1d15a179345488da41b35ec0104aeb02b9d1e5f1f549",
        "6028c134d8ef676e5db86940fadb4a61ce5e3c372107d579e404ab0f03fd03d1"),
    "nested_map-zstd-adaptive": (
        "fb337f88b4e9464317d38d6fe8ef753b62f3b5fd9292d7899832afca0123194d",
        "8b4ece02f5a78a139729d575f8a49d50b136fb8220a6666fca9e0640aa746e0e"),
    "nested_map-zstd-basic": (
        "3f8728aed692332489f3f041cfa1eb46dfd9f9c177bb6cdd19a8c77819de1359",
        "978f06151ea2c3f57d57958767114b1c3a8209e2c3e2c881bbe9810e798d02e2"),
    "nested_list_list-lz4-adaptive": (
        "375e4a7632fd69a4866a2ce3082b0c751b4eb7d8f17aee4efead2b949c23e296",
        "59995e2e4fab4b09fbfaabc93cedf981df602aa9e9818fffba92fec371878042"),
    "nested_list_list-lz4-basic": (
        "375e4a7632fd69a4866a2ce3082b0c751b4eb7d8f17aee4efead2b949c23e296",
        "59995e2e4fab4b09fbfaabc93cedf981df602aa9e9818fffba92fec371878042"),
    "nested_list_list-zstd-adaptive": (
        "1166b311f84c8191127387aa21769a1db5c31172c898d18c2a8dc14837936805",
        "1574f6e6142868a1bfd064edf5fe03e3f6fc8a18a1b2902b73a031b2679842bb"),
    "nested_list_list-zstd-basic": (
        "1166b311f84c8191127387aa21769a1db5c31172c898d18c2a8dc14837936805",
        "1574f6e6142868a1bfd064edf5fe03e3f6fc8a18a1b2902b73a031b2679842bb"),
    "nested_list_struct-lz4-adaptive": (
        "98e55ae4955c55ff32ee4c51a0375d5652c6a948745ea27ead474b13dd6e7f50",
        "10cfcc8a04696dff86f593f601821df68af307ef15309a2b8577492d41851d5b"),
    "nested_list_struct-lz4-basic": (
        "a4ca49dc05b132e2a78e4ccf3f9e8f584874234332eb0f9b1366c3d3b479bd1e",
        "073b74de8ad9b5b43cb5fa89e725560ed0dd74da232aff049fe66052a072851c"),
    "nested_list_struct-zstd-adaptive": (
        "d4c6273deb9a3bde4fc3c55428b2c52be58bc455c6985f99d971d1ee07de693e",
        "44ea2369a4bc098ab72cbc5d2d15935e1d7e274bda2e2e5953a3ec33ae2ff414"),
    "nested_list_struct-zstd-basic": (
        "fe6d3e202ca6c565ac0a16769e29e6bd2fd3d6abf139ebb35acd935822e82e5f",
        "703515f9cfe3a7657c99eb59fc960a38ff7021abb3872613b2c0ac1e4a926c73"),
    "nested_fixed_size_list-lz4-adaptive": (
        "d7d0d137237a80ac8ea106d867afb57ace0936f86c515c9594a241ea833d988a",
        "acf9149e4a9ea167760d165ea3f48016624b743ee5b0cdb52f927baa8d376658"),
    "nested_fixed_size_list-lz4-basic": (
        "d7d0d137237a80ac8ea106d867afb57ace0936f86c515c9594a241ea833d988a",
        "acf9149e4a9ea167760d165ea3f48016624b743ee5b0cdb52f927baa8d376658"),
    "nested_fixed_size_list-zstd-adaptive": (
        "c5e98be7a8d24b653c39b8e48de317c7d4465649dcb58c77b4528d9a9df42b8d",
        "4051eeb32f42432f94cc6fd625892b750d1298d0c037f65ee57148f34088b68b"),
    "nested_fixed_size_list-zstd-basic": (
        "c5e98be7a8d24b653c39b8e48de317c7d4465649dcb58c77b4528d9a9df42b8d",
        "4051eeb32f42432f94cc6fd625892b750d1298d0c037f65ee57148f34088b68b"),
    "nested_large_list-lz4-adaptive": (
        "d19cb059c996d2e7fa080b9270f69185653a2f52a22d9ee51d74b36bffd65395",
        "695cfe4aaa0d1cbc088ece5c1f12645ca349c61d2d51d219177fb85eaa25d3d7"),
    "nested_large_list-lz4-basic": (
        "d19cb059c996d2e7fa080b9270f69185653a2f52a22d9ee51d74b36bffd65395",
        "695cfe4aaa0d1cbc088ece5c1f12645ca349c61d2d51d219177fb85eaa25d3d7"),
    "nested_large_list-zstd-adaptive": (
        "396497a64146e63a8ab945584bf95b6bb2b93fff7a39a51e817b861e2bf66aab",
        "f7b1c04a50b77a868088c8fd24db54f55417906c9b2774dbe5181f8bebcc069f"),
    "nested_large_list-zstd-basic": (
        "396497a64146e63a8ab945584bf95b6bb2b93fff7a39a51e817b861e2bf66aab",
        "f7b1c04a50b77a868088c8fd24db54f55417906c9b2774dbe5181f8bebcc069f"),
    "nested_sliced_list-lz4-adaptive": (
        "b3f92699e3361b59322ae99efeddabb40dd05d48b528ab1a1f84736f0edd3508",
        "791fe0664296b33f524843cb3778b16e47d6c60e91980414cc3204744e3c1066"),
    "nested_sliced_list-lz4-basic": (
        "b3f92699e3361b59322ae99efeddabb40dd05d48b528ab1a1f84736f0edd3508",
        "791fe0664296b33f524843cb3778b16e47d6c60e91980414cc3204744e3c1066"),
    "nested_sliced_list-zstd-adaptive": (
        "e8c62d499dafeb32ca680491a79a90e8677dd8a7caf5b27101381074c25a7f7f",
        "6c55af3d0980e1fec3e1e031f73c4d7be09f3cbe10443bf0c07a04abbb833217"),
    "nested_sliced_list-zstd-basic": (
        "e8c62d499dafeb32ca680491a79a90e8677dd8a7caf5b27101381074c25a7f7f",
        "6c55af3d0980e1fec3e1e031f73c4d7be09f3cbe10443bf0c07a04abbb833217"),
    "b_i64_third_below-lz4-adaptive": (
        "31727cb362b19bfbe9903c695df966035058c8bccbb502942a8b25eed152c0eb",
        "1e48455b4b6d0d646cf34c5559cfd2889309b2222049ba876c53fceea8db1959"),
    "b_i64_third_below-lz4-basic": (
        "84a4629b103d91d68570b641f336d12c8e80735f64c77a4d6a6987a01b8ca944",
        "38ee6c457c96e2078d4b66efa343183f71a6663886746da1447cbc534b245128"),
    "b_i64_third_below-zstd-adaptive": (
        "3b121ddb98a5355b23325efd7dc9b630299577d202779b51f1ede71416691988",
        "4c8f439ea0f31ad217a544d410cab44636e967c2ca67f9ff4669f73ad4340bf2"),
    "b_i64_third_below-zstd-basic": (
        "1a004c5da4b01b7347dd702474844f2efa7c625cc6eee7c09e64b6e2b6f3bb87",
        "23b0e5cbecb9898aeeb4fc22db1fab88665ef5a37d9a0f5c00eeed98ed46ea64"),
    "b_i64_third_at-lz4-adaptive": (
        "3f178580cf9318db457a2a6bf32aef4ddf9e0552422fd7e79a93916e4562fd97",
        "b262529092e39ac5eda697ab1624d8cb244776e8d4fa37b128da2ef886729134"),
    "b_i64_third_at-lz4-basic": (
        "3f178580cf9318db457a2a6bf32aef4ddf9e0552422fd7e79a93916e4562fd97",
        "b262529092e39ac5eda697ab1624d8cb244776e8d4fa37b128da2ef886729134"),
    "b_i64_third_at-zstd-adaptive": (
        "4fdd5ad46ee147a889d9ac5391c931610aadfac122e9eb442cc58f040b2de21c",
        "0fd6a01e65cedf36af1629dd01cfe45121f5ca69a8080ab69a30af8a14b38d78"),
    "b_i64_third_at-zstd-basic": (
        "4fdd5ad46ee147a889d9ac5391c931610aadfac122e9eb442cc58f040b2de21c",
        "0fd6a01e65cedf36af1629dd01cfe45121f5ca69a8080ab69a30af8a14b38d78"),
    "b_utf8_third_below-lz4-adaptive": (
        "60b38d45b55bf4666b8374a7afb06f8c728bf1297217e23ae91128bc0fc01a1e",
        "f33824804c7817994ec2fdb0be559b7a328d2c7f48d24ee9bb5549f41a679c48"),
    "b_utf8_third_below-lz4-basic": (
        "38de366f2d607c7ab033f6dc4f894c897975cdbd84fe9293b0759c278ce5bb24",
        "320d434b5fb3007cacc96e94bd68b195ea262cbd7a86063083801ef22c4ee6e9"),
    "b_utf8_third_below-zstd-adaptive": (
        "9fec5e1faca8aef335a0ca25227973424ff1daa5cca2f68dbec3c1c49eb3d647",
        "cf001d693411f0989abaf5a97a527db965420307522da944956914870201cf90"),
    "b_utf8_third_below-zstd-basic": (
        "75982d9baec2954b69086d036bb979d028b15f8c62bbbf4a2b08120914152039",
        "4c7e9d9527669f2c4f60e55b51600d26dc1df7ab106a89ca502005a9227c419c"),
    "b_utf8_third_at-lz4-adaptive": (
        "326fbe3a8df4475c63c8b42e05ec4bd617b9c9c863df9c760d72fd74a5e3e37f",
        "c8b648c717fa53f39365fe0f06a3617af5dff61a3c3449b9c4ec4fb5d8e39d08"),
    "b_utf8_third_at-lz4-basic": (
        "326fbe3a8df4475c63c8b42e05ec4bd617b9c9c863df9c760d72fd74a5e3e37f",
        "c8b648c717fa53f39365fe0f06a3617af5dff61a3c3449b9c4ec4fb5d8e39d08"),
    "b_utf8_third_at-zstd-adaptive": (
        "dee3e1332c2f5a1db7ed80e126ede61f2a0f03ed984affccea2a51f6b8335943",
        "a93b9b438b4bb9b0552622edf92f58bf6cb06ab69acfc10530b3bc1f14cd3000"),
    "b_utf8_third_at-zstd-basic": (
        "dee3e1332c2f5a1db7ed80e126ede61f2a0f03ed984affccea2a51f6b8335943",
        "a93b9b438b4bb9b0552622edf92f58bf6cb06ab69acfc10530b3bc1f14cd3000"),
    "b_f64_third_at-lz4-adaptive": (
        "159584f47a68e9d91d4fde566688e58ccb519637a5512337d20f425936574d66",
        "471e09930a0c01f234412f9963601029d98d78a519b8cf61c5abaf13e33208a0"),
    "b_f64_third_at-lz4-basic": (
        "159584f47a68e9d91d4fde566688e58ccb519637a5512337d20f425936574d66",
        "471e09930a0c01f234412f9963601029d98d78a519b8cf61c5abaf13e33208a0"),
    "b_f64_third_at-zstd-adaptive": (
        "08545f155d64c6d48830780e368d72cd9631dd623812c75f1b6d742785b42e39",
        "c2ca4697912c52be46bba531c27a1df424be9f9608434a730b560acbd6b6dc5a"),
    "b_f64_third_at-zstd-basic": (
        "08545f155d64c6d48830780e368d72cd9631dd623812c75f1b6d742785b42e39",
        "c2ca4697912c52be46bba531c27a1df424be9f9608434a730b560acbd6b6dc5a"),
    "b_i64_half_dups-lz4-adaptive": (
        "878f3b24dca2584c30335ebe4958b28c77d85b33dea0b48ca9a29ecbdff64c75",
        "d256eb0ab49b57f6c3ed6c8c03c945b1b679d8f12a9b7044d3aaaecdf65358f1"),
    "b_i64_half_dups-lz4-basic": (
        "878f3b24dca2584c30335ebe4958b28c77d85b33dea0b48ca9a29ecbdff64c75",
        "d256eb0ab49b57f6c3ed6c8c03c945b1b679d8f12a9b7044d3aaaecdf65358f1"),
    "b_i64_half_dups-zstd-adaptive": (
        "07cbf8e289433d45df6189ae727ff7256cd638c8d26d5c6f44c527011cbd8e67",
        "1d635bd177d832c0c78d81bfd479b6cb60ce5b30d3d012af553d8c01ca6c66ee"),
    "b_i64_half_dups-zstd-basic": (
        "07cbf8e289433d45df6189ae727ff7256cd638c8d26d5c6f44c527011cbd8e67",
        "1d635bd177d832c0c78d81bfd479b6cb60ce5b30d3d012af553d8c01ca6c66ee"),
    "b_utf8_half_dups-lz4-adaptive": (
        "2359bdcab2cf2e09d93f7eb1ff36b696e32d93b7b687babfe61c1aba06b0186f",
        "a09c0d9a379487fe6231a8bdb26a35ed8927f6cfdd4da65a2611d761eb913c50"),
    "b_utf8_half_dups-lz4-basic": (
        "2359bdcab2cf2e09d93f7eb1ff36b696e32d93b7b687babfe61c1aba06b0186f",
        "a09c0d9a379487fe6231a8bdb26a35ed8927f6cfdd4da65a2611d761eb913c50"),
    "b_utf8_half_dups-zstd-adaptive": (
        "8228ff068be60331397f148da30f2e8a246ef9060f6e5171108d6988640db8c3",
        "ac915b1480bb5eaefd459e7c89514dfe7f5bed6ffe65cc44555c161a68cdf24b"),
    "b_utf8_half_dups-zstd-basic": (
        "8228ff068be60331397f148da30f2e8a246ef9060f6e5171108d6988640db8c3",
        "ac915b1480bb5eaefd459e7c89514dfe7f5bed6ffe65cc44555c161a68cdf24b"),
    "b_i64_many_nulls-lz4-adaptive": (
        "2fd3cba6f29d6b6fa65764f2ef6b11edf9a98a9094a3515392aa83fd2a6eb063",
        "31c631a5103385810a1c72ce2f26d462819e8e77c579acfad0f7c5713ab3ff80"),
    "b_i64_many_nulls-lz4-basic": (
        "2fd3cba6f29d6b6fa65764f2ef6b11edf9a98a9094a3515392aa83fd2a6eb063",
        "31c631a5103385810a1c72ce2f26d462819e8e77c579acfad0f7c5713ab3ff80"),
    "b_i64_many_nulls-zstd-adaptive": (
        "ebd5d7903c0c13dff00d2643cfea2c67916b78d829e3cc3720b6c0a66fd2f9ba",
        "ab77ace4e561f5130a54d405d0aa278edae956f72e3ea0c1fa586e8305426f83"),
    "b_i64_many_nulls-zstd-basic": (
        "ebd5d7903c0c13dff00d2643cfea2c67916b78d829e3cc3720b6c0a66fd2f9ba",
        "ab77ace4e561f5130a54d405d0aa278edae956f72e3ea0c1fa586e8305426f83"),
    "b_utf8_leading_nulls-lz4-adaptive": (
        "0f490d782a0aa9a003641b3856c69bd9d084196eb70a8753ebe2a7c4fc170463",
        "48f88b6f2b5dfb45cab6e6cdef120a939ef07626d1b7caa6439342a9328e18c8"),
    "b_utf8_leading_nulls-lz4-basic": (
        "5953b4f3f0cc2f881f169835f9cbc7e4b067c00fd30ca03118814deb7526ae43",
        "3bbc41de0f23f2a9310a92ad9f08ff46c095229bdb9d2e66f3ce2b5f161fe149"),
    "b_utf8_leading_nulls-zstd-adaptive": (
        "e66767b9366d8184d1b4a83c8ceb2a60daecafafb1a6b8bb0929027091b2ddc2",
        "a7884a5493a2434100863c9081e03a6c63f67191420cbea134d8c1a88abef898"),
    "b_utf8_leading_nulls-zstd-basic": (
        "33b7462f7697317f7c71d47a38cb62dfc003d6f178e82ed4057ef7670e11fa5f",
        "bb04160824ddbc87d66c8cf04998d36f82fb0ba9e8174dc3e1d5ff811448f02b"),
    "b_utf8_leading_nulls_empty-lz4-adaptive": (
        "ed63cc253c7ea5075494be3111f8dae6591e283045d9333ba9a2026ca381fc2c",
        "6c6ea2d998b29fb4117ae535f3a73d18085505d26ce9f5f8663b38015b70ac4a"),
    "b_utf8_leading_nulls_empty-lz4-basic": (
        "f5a6f1d6c35679d73957d5dc85cdf6ccd6ccfb20390c7cfb0a9800f62c1dd362",
        "6e64027eef52f0830062ec28dff178b8348838bf96fb4cf698697a285110d366"),
    "b_utf8_leading_nulls_empty-zstd-adaptive": (
        "cbd9dfa027e3815c89ad3c59d79bccaeff13d5c190e1f27f9372f7ab2c4f3ab0",
        "248e37667530338a47a60882c3e846ac6e8e67db2a23a71f702d69258b9e77bc"),
    "b_utf8_leading_nulls_empty-zstd-basic": (
        "1113bf5734f5ed96721c9877138c41d4ee13b902ee2e30c3020f1110c754741e",
        "1a3b224d338630674bf899f0fc23f583eae90f77a8afdf6d19f0f91f59f68bdd"),
    "b_utf8_leading_nulls_plain-lz4-adaptive": (
        "ec89a52bdc9d1f4d02e618813e5e62ad88dd9f03f9339d0cc49b51dce31344a8",
        "d17d4b5b5eece1ffba04d6a1141341e4158edd5045e009e6a90d0f2c39b6e0bf"),
    "b_utf8_leading_nulls_plain-lz4-basic": (
        "ec89a52bdc9d1f4d02e618813e5e62ad88dd9f03f9339d0cc49b51dce31344a8",
        "d17d4b5b5eece1ffba04d6a1141341e4158edd5045e009e6a90d0f2c39b6e0bf"),
    "b_utf8_leading_nulls_plain-zstd-adaptive": (
        "07520bf7df59be946c3f40dfe9b1b1faf5e2a7cc86c7c5fa25cfedada23d747e",
        "a35ba52949f2dd686e95242f9898e127a299c45e324334e0f695e169f8e3760f"),
    "b_utf8_leading_nulls_plain-zstd-basic": (
        "07520bf7df59be946c3f40dfe9b1b1faf5e2a7cc86c7c5fa25cfedada23d747e",
        "a35ba52949f2dd686e95242f9898e127a299c45e324334e0f695e169f8e3760f"),
    "b_utf8_leading_nulls_freq-lz4-adaptive": (
        "b78e31ef82910c796f90222fcc7058f65e07fd7e2aa0b091d2002301b411fb71",
        "eeaa3b11e42e3dee7e76560e6f194cfab0a53002f3181cb839d54d103f4adedd"),
    "b_utf8_leading_nulls_freq-lz4-basic": (
        "a0da2695d2215395442002566bf4311df30f3b757330153768f0785827b178d9",
        "e3b8df86ca50d496e8c53675acb2b20fcc506271008f72ace37a836c73a075b6"),
    "b_utf8_leading_nulls_freq-zstd-adaptive": (
        "5414e9a4431dc5c8dd651bd67730974a255b8a6fc8b531e610c05469f01a1e20",
        "8071fbc306d76ca6f62a5821da44a48740791507adcdaaec7ce762f325ecdc50"),
    "b_utf8_leading_nulls_freq-zstd-basic": (
        "57f9f4fa0b3933f0ef8061ef343f2c4d695d6a0f2ef9489b5ccff94c42bc46ee",
        "9aa207dce513fd836920a305729b5151b6c2c1676cf7c9f6daa0910445b861f0"),
    "b_i64_all_null_page-lz4-adaptive": (
        "df4c290fcce1ed0213a36344ca9e0d99d1ab6540a9494f48d81351c7afc81170",
        "90c79f9cfea2c8f173b0f77d1ccba79dc61595b2f3c4ebaee4e67328024daf86"),
    "b_i64_all_null_page-lz4-basic": (
        "657dbf08bb47a729336b74ec2c692f3366cdb991ba7d21d57a479b16d740592c",
        "10c7cb5d0e61872cea778a947cdbc5644c5c200b247966d12c5e0f61e5fbfac2"),
    "b_i64_all_null_page-zstd-adaptive": (
        "bcdda63629f89efc75b07b8eb6aac5fdf010d2483fc67d3ac8575bcff3ea2e75",
        "8deb4d09c6a0326ebdc37efb1187960fd96c80327b16bd7e084dc67aa4ab37b1"),
    "b_i64_all_null_page-zstd-basic": (
        "649031ae7fb9a47bac238b59f1ccff71a62980ab98982f74265899d0435d22a7",
        "a91f50d0752ae8a29e79d79b493e4c515b3cc5f7d634aa271ef89c28a3b964bc"),
    "b_f64_all_null_page-lz4-adaptive": (
        "5b9be527157d527083db7270a3be200164ea2cf845bfe63ebfa8fe653965b5f5",
        "413dce2c048b12e0a6ad218c75339481c34c5e59fe952eb95da2393aef3d98ec"),
    "b_f64_all_null_page-lz4-basic": (
        "2fbc236a27f74f748d0d56f3cd98e0ec24b40c07294a49c0c953e5913d4ec77c",
        "c3ea10d3d5c48bb48c56028d1e30e02379becdfd7fba3fdb98986132c45b916d"),
    "b_f64_all_null_page-zstd-adaptive": (
        "4057364c68333ad464346c83b6c29b45bd78bd4619d2472ef4ee8cc76ea8209f",
        "a68d0c60ee0755031ff25a4137e78dd163eaaabf8e1e8eeea618e48566fbdd0c"),
    "b_f64_all_null_page-zstd-basic": (
        "34d57e873327f6dc7e139ab81aa27f344f31fb1ee43e22fd75af39f4edfba97c",
        "7846a620773120027f79779482b3dd48cf6d3b0f9a9c65c8cce98a4eb66d467e"),
    "b_utf8_all_null_page-lz4-adaptive": (
        "b4a59bc6ec630b8d6864bffe8c987c3a9cdccca9a63aca6a5dad0f040c59905c",
        "069ec2d04d846e448248c2d611439dd4d0ae3f9d4de518a0b93954251e0d52f2"),
    "b_utf8_all_null_page-lz4-basic": (
        "d39b212346aef9b32e27c9d33d720c4dcd5e6a2404ea060b945971a1e6b031be",
        "0564072d810610abc6c58d3c99356c2a6727244a3e9fb0b44e1b6a2900707526"),
    "b_utf8_all_null_page-zstd-adaptive": (
        "77d9e33b6b86fe234612f1a9f7cda1c09a93e07417ba332ca67cfdaa18c8fb7a",
        "20212612b27face7266918f1037f20ffef66640447f716285401a638b1c1775e"),
    "b_utf8_all_null_page-zstd-basic": (
        "a0f16185504fdc8393f7360fd9ec194a292d1d0943725bf3b09c92f4b479f784",
        "375b9cb1f53d1d54e9168c1795c09e86ac91b2c1dd775d0cc61ced1ba35e7220"),
    "b_f64_signed_zero-lz4-adaptive": (
        "685533c9318b79f4e59b5f3ac1f9ee80dcf9de557ac2b7d121d7fe1e49848770",
        "21883d0e7f6e2e2ed27a32b268d175e3d7af2070af869bd30d1585718795355b"),
    "b_f64_signed_zero-lz4-basic": (
        "cf936b6a21e54fe98f57511b03c94f691f9edd93013e22eebe87f8fc98252f11",
        "ef80e6933612a4b72066ac19705cf69595a993e67d6e0c4a7caddb2bf4921fbb"),
    "b_f64_signed_zero-zstd-adaptive": (
        "685533c9318b79f4e59b5f3ac1f9ee80dcf9de557ac2b7d121d7fe1e49848770",
        "21883d0e7f6e2e2ed27a32b268d175e3d7af2070af869bd30d1585718795355b"),
    "b_f64_signed_zero-zstd-basic": (
        "eb5815269f9054f4493cc421a39c5e02aa9fd02e18401a3ab678a2650ce9901b",
        "33b7d4a9dbc34bfa1410d62a56a3f043de3478bee32e2c3548ae755e99b33ca7"),
    "b_f64_nan-lz4-adaptive": (
        "6b8d469e9cfd04517c5a795bce8f4fb1d214e9d1b45311616bd1e666c4be15c1",
        "f5ca3e996f9cf2989b4094557f9a0b8a34b365e0686016c4696e4d772120bf0e"),
    "b_f64_nan-lz4-basic": (
        "0e551fc8686851f64f4334a65002613835a4cc53e1f4a884ba49efba15f17fd1",
        "ee155dcb1e8eebdde15b42e5dd19137aa678d7d089badd916bd53a35564c90b5"),
    "b_f64_nan-zstd-adaptive": (
        "6b8d469e9cfd04517c5a795bce8f4fb1d214e9d1b45311616bd1e666c4be15c1",
        "f5ca3e996f9cf2989b4094557f9a0b8a34b365e0686016c4696e4d772120bf0e"),
    "b_f64_nan-zstd-basic": (
        "d3b8d0ba016a566b1ac4f97459d77b9dc713ec85fc6b6dc8c56b808275dea1d6",
        "d0ccb88ae3167f31cf6896048f3acfe22d50c78839d04afea0a2b349fed66af3"),
}


@pytest.fixture(scope="module")
def shapes():
    return _shapes()


@pytest.mark.parametrize("shape,codec,ratio", CASES, ids=[_case_id(*c) for c in CASES])
def test_written_bytes_match_pin(tmp_path, shapes, shape, codec, ratio):
    path = tmp_path / "pin.quiver"
    table = _write(shapes[shape], codec, ratio, path)
    got = (_sha256(path), _sha256(Path(str(path) + ".stats.json")))
    assert got == PINS[_case_id(shape, codec, ratio)]
    read = read_table(str(path))
    if shape == "b_f64_nan":  # NaN != NaN: same schema, then the stored bits
        assert read.schema.equals(table.schema)
        read, table = (t.column(0).combine_chunks().view(pa.int64()) for t in (read, table))
    assert read.equals(table)


if __name__ == "__main__":
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        arrays = _shapes()
        print("PINS: dict[str, tuple[str, str]] = {")
        for shape, codec, ratio in CASES:
            path = Path(d) / "pin.quiver"
            _write(arrays[shape], codec, ratio, path)
            digests = (_sha256(path), _sha256(Path(str(path) + ".stats.json")))
            print(f'    "{_case_id(shape, codec, ratio)}": (\n'
                  f'        "{digests[0]}",\n        "{digests[1]}"),')
        print("}")
