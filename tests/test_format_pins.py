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
    assert read_table(str(path)).equals(table)


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
