"""SFTP connector over the from-scratch SSH transport: FIPS-197 /
SP 800-38A AES vectors, RFC 3526 group sanity, full-handshake e2e
(kex + host signature + aes128-ctr + hmac-sha2-256 + password auth),
SFTP v3 operations against the sandboxed in-process sshd, spooler
watcher/delete modes, and the YAML input/output pipelines."""

from __future__ import annotations

import json
import shutil
import subprocess
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.sftp import (
    MiniSftpServer,
    SftpClient,
    SftpStatusError,
    parse_sftp_address,
    sftp_bridge,
)
from bento_spark.streaming.spool import entries
from bento_spark.streaming.ssh_transport import (
    AES,
    AesCtr,
    GROUP14_P,
    _SBOX,
)

_OPENSSL = shutil.which("openssl")


@pytest.fixture(scope="module")
def host_key(tmp_path_factory):
    if _OPENSSL is None:
        pytest.skip("openssl binary unavailable")
    d = tmp_path_factory.mktemp("hostkey")
    subprocess.run([_OPENSSL, "genrsa", "-out", "hk.pem", "2048"],
                   capture_output=True, cwd=d, check=True)
    return (d / "hk.pem").read_text()


@pytest.fixture()
def server(host_key, tmp_path):
    root = tmp_path / "sftp_root"
    root.mkdir()
    s = MiniSftpServer(str(root), host_key, {"bento": "hunter2"}).start()
    s.root_path = root
    yield s
    s.stop()


# ---------------------------------------------------------------------------
# crypto primitives (published vectors)
# ---------------------------------------------------------------------------


def test_derived_sbox_matches_fips197():
    # FIPS-197 §5.1.1 table corners + spot values
    assert _SBOX[0x00] == 0x63
    assert _SBOX[0x01] == 0x7C
    assert _SBOX[0x53] == 0xED
    assert _SBOX[0xFF] == 0x16


def test_aes_fips197_vectors():
    # appendix C.1 (AES-128) and C.3 (AES-256)
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    k128 = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    assert AES(k128).encrypt_block(pt) == bytes.fromhex(
        "69c4e0d86a7b0430d8cdb78070b4c55a")
    k256 = bytes.fromhex("000102030405060708090a0b0c0d0e0f"
                         "101112131415161718191a1b1c1d1e1f")
    assert AES(k256).encrypt_block(pt) == bytes.fromhex(
        "8ea2b7ca516745bfeafc49904b496089")


def test_aes_ctr_sp800_38a_vector():
    # NIST SP 800-38A F.5.1 CTR-AES128.Encrypt
    k = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    iv = bytes.fromhex("f0f1f2f3f4f5f6f7f8f9fafbfcfdfeff")
    pt = bytes.fromhex(
        "6bc1bee22e409f96e93d7e117393172a"
        "ae2d8a571e03ac9c9eb76fac45af8e51"
        "30c81c46a35ce411e5fbc1191a0a52ef"
        "f69f2445df4f9b17ad2b417be66c3710")
    want = bytes.fromhex(
        "874d6191b620e3261bef6864990db6ce"
        "9806f66b7970fdff8617187bb9fffdff"
        "5ae4df3edbd5d35e5b4f09020db03eab"
        "1e031dda2fbe03d1792170a0f3009cee")
    ctr = AesCtr(k, iv)
    # split across odd boundaries: the stream must not care
    got = ctr.process(pt[:7]) + ctr.process(pt[7:33]) + ctr.process(pt[33:])
    assert got == want


def test_group14_prime_sanity():
    """RFC 3526 §3: 2048 bits, the documented leading/trailing words,
    and probable-primality of both p and (p-1)/2 (a safe prime)."""
    p = GROUP14_P
    assert p.bit_length() == 2048
    assert p % 2 == 1
    hexp = f"{p:x}"
    assert hexp.startswith("ffffffffffffffffc90fdaa2")
    assert hexp.endswith("ffffffffffffffff")

    def miller_rabin(n: int, bases=(2, 3, 5, 7, 11, 13, 17, 19, 23)) -> bool:
        d, r = n - 1, 0
        while d % 2 == 0:
            d //= 2
            r += 1
        for a in bases:
            x = pow(a, d, n)
            if x in (1, n - 1):
                continue
            for _ in range(r - 1):
                x = pow(x, 2, n)
                if x == n - 1:
                    break
            else:
                return False
        return True

    assert miller_rabin(p)
    assert miller_rabin((p - 1) // 2)


def test_parse_sftp_address():
    assert parse_sftp_address("sftp://h:2222") == ("h", 2222)
    assert parse_sftp_address("h2") == ("h2", 22)


# ---------------------------------------------------------------------------
# transport + sftp protocol e2e
# ---------------------------------------------------------------------------


def test_auth_and_host_signature(server):
    c = SftpClient("127.0.0.1", server.port, "bento", "hunter2")
    assert c.version == 3
    c.close()
    with pytest.raises(ConnectionError, match="authentication failed"):
        SftpClient("127.0.0.1", server.port, "bento", "wrong")
    with pytest.raises(ConnectionError, match="authentication failed"):
        SftpClient("127.0.0.1", server.port, "nobody", "hunter2")


def test_publickey_auth(host_key, tmp_path):
    """RFC 4252 §7 publickey auth: rsa-sha2-256 signature over the
    session id + request; authorized key accepted, unauthorized and
    password-less rejected."""
    import subprocess as sp_mod

    from bento_spark.functions.crypto_prims import parse_rsa_private
    from bento_spark.streaming.ssh_transport import rsa_host_blob

    sp_mod.run([_OPENSSL, "genrsa", "-out", "user.pem", "2048"],
               capture_output=True, cwd=tmp_path, check=True)
    sp_mod.run([_OPENSSL, "genrsa", "-out", "other.pem", "2048"],
               capture_output=True, cwd=tmp_path, check=True)
    user_pem = (tmp_path / "user.pem").read_text()
    key = parse_rsa_private(user_pem)
    blob = rsa_host_blob(key["n"], key["e"])
    root = tmp_path / "root"
    root.mkdir()
    (root / "f.txt").write_text("keyed")
    srv = MiniSftpServer(str(root), host_key, users={},
                         authorized_keys={"keyuser": blob}).start()
    try:
        c = SftpClient("127.0.0.1", srv.port, "keyuser", "",
                       private_key_pem=user_pem)
        assert c.read_file("f.txt") == b"keyed"
        c.close()
        # an unauthorized key is rejected
        with pytest.raises(ConnectionError, match="authentication failed"):
            SftpClient("127.0.0.1", srv.port, "keyuser", "",
                       private_key_pem=(tmp_path / "other.pem").read_text())
        # and so is password auth (no users configured)
        with pytest.raises(ConnectionError, match="authentication failed"):
            SftpClient("127.0.0.1", srv.port, "keyuser", "whatever")
    finally:
        srv.stop()


def test_file_operations(server):
    c = SftpClient("127.0.0.1", server.port, "bento", "hunter2")
    try:
        c.mkdirs("data/deep")
        body = b"x" * 100_000  # multi-chunk read/write
        c.write_file("data/deep/big.bin", body)
        assert c.stat("data/deep/big.bin")["size"] == 100_000
        assert c.read_file("data/deep/big.bin", chunk=8192) == body
        c.write_file("data/deep/big.bin", b"tail", append=True)
        assert c.read_file("data/deep/big.bin")[-4:] == b"tail"
        c.rename("data/deep/big.bin", "data/deep/moved.bin")
        assert c.glob("data/deep/*.bin") == ["data/deep/moved.bin"]
        c.remove("data/deep/moved.bin")
        with pytest.raises(SftpStatusError):
            c.stat("data/deep/moved.bin")
        # sandbox: traversal cannot leave the root
        with pytest.raises(SftpStatusError):
            c.read_file("../../../etc/hostname")
    finally:
        c.close()


def test_spooler_one_pass_and_delete(server, tmp_path):
    (server.root_path / "inbox").mkdir()
    for i in range(3):
        (server.root_path / "inbox" / f"f{i}.json").write_text(
            json.dumps({"n": i}))
    (server.root_path / "inbox" / "skip.txt").write_text("no")
    spool = tmp_path / "spool"
    sp = sftp_bridge(
        host="127.0.0.1", port=server.port, username="bento",
        password="hunter2", paths=["inbox/*.json"], spool_dir=str(spool),
        delete_on_finish=True).start()
    assert sp.wait_finished(30)
    sp.stop()
    assert [json.loads(body)["n"] for _, body in entries(spool)] == [0, 1, 2]
    # consumed files were deleted, the non-matching one remains
    assert sorted(p.name for p in (server.root_path / "inbox").iterdir()) \
        == ["skip.txt"]


def test_spooler_watcher_picks_up_new_files(server, tmp_path):
    (server.root_path / "watch").mkdir()
    (server.root_path / "watch" / "a.json").write_text('{"v": "first"}')
    spool = tmp_path / "spool"
    sp = sftp_bridge(
        host="127.0.0.1", port=server.port, username="bento",
        password="hunter2", paths=["watch/*.json"], spool_dir=str(spool),
        watcher=True, poll_interval_s=0.2).start()
    try:
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 1:
            assert time.monotonic() < deadline
            time.sleep(0.05)
        (server.root_path / "watch" / "b.json").write_text('{"v": "second"}')
        while len(entries(spool)) < 2:
            assert time.monotonic() < deadline, "watcher missed the new file"
            time.sleep(0.05)
    finally:
        sp.stop()
    got = sorted(json.loads(body)["v"] for _, body in entries(spool))
    assert got == ["first", "second"]


# ---------------------------------------------------------------------------
# Spark e2e
# ---------------------------------------------------------------------------


def test_yaml_sftp_input_end_to_end(spark, server, tmp_path):
    (server.root_path / "drop").mkdir()
    (server.root_path / "drop" / "one.txt").write_text("warm")
    (server.root_path / "drop" / "two.txt").write_text("cold")
    spool = tmp_path / "spool_in"
    p = compile_yaml(f"""
input:
  sftp:
    address: 127.0.0.1:{server.port}
    credentials:
      username: bento
      password: hunter2
    paths: [drop/*.txt]
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.body = this.value.uppercase()
        root.src = this.sftp_path
output:
  path: {tmp_path}/out
""")
    sp = p.start_bridge()
    try:
        assert sp.wait_finished(30)
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_in"))
        q.awaitTermination(90)
    finally:
        sp.stop()
    from bento_spark.streaming.sink import IdempotentParquetSink

    rows = sorted(
        (r.src, r.body)
        for r in IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    )
    assert rows == [("drop/one.txt", "WARM"), ("drop/two.txt", "COLD")]


def test_yaml_sftp_output_lines_codec(spark, server, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.jsonl").write_text(
        '{"site": "oslo", "temp": 4}\n{"site": "oslo", "temp": 7}\n'
        '{"site": "bergen", "temp": 9}\n')
    p = compile_yaml(f"""
input:
  json:
    path: {src}
    schema: "site STRING, temp BIGINT"
output:
  sftp:
    address: 127.0.0.1:{server.port}
    credentials:
      username: bento
      password: hunter2
    path: exports/${{! this.site }}.jsonl
    codec: lines
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_out"))
    q.awaitTermination(90)
    deadline = time.monotonic() + 10
    exports = server.root_path / "exports"
    while not (exports / "oslo.jsonl").exists() \
            or not (exports / "bergen.jsonl").exists():
        assert time.monotonic() < deadline
        time.sleep(0.05)
    oslo = [json.loads(line) for line in
            (exports / "oslo.jsonl").read_text().splitlines()]
    assert sorted(r["temp"] for r in oslo) == [4, 7]
    bergen = [json.loads(line) for line in
              (exports / "bergen.jsonl").read_text().splitlines()]
    assert [r["temp"] for r in bergen] == [9]


def test_yaml_encrypted_key_raises_clear_error(server, tmp_path):
    # passphrase-encrypted PEMs need decryption the pure-Python parser
    # doesn't do — the config error must say so
    p = compile_yaml(f"""
input:
  sftp:
    address: 127.0.0.1:{server.port}
    credentials:
      username: bento
      private_key_file: /tmp/key.pem
      private_key_pass: s3cret
    paths: [x/*]
    spool_dir: {tmp_path}/s
output:
  path: {tmp_path}/out
""")
    with pytest.raises(ValueError, match="private_key_pass"):
        p.start_bridge()


def test_lint_knows_sftp():
    from bento_spark.plans.lint import known_inputs

    assert "sftp" in known_inputs()
