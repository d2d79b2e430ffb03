from .keccak import (
    ERC20_TRANSFER_TOPIC,
    UNISWAP_V2_SWAP_TOPIC,
    UNISWAP_V3_SWAP_TOPIC,
    keccak_256,
    keccak_256_hex,
    to_checksum_address,
)
from .hex import (
    eip55_checksum,
    hex_to_double,
    hex_to_double_sql,
    hex_to_long,
    hex_to_long_sql,
)
from .maps import TOKEN_STANDARDS, token_standards_col, token_standards_df, token_standards_sql

__all__ = [
    "ERC20_TRANSFER_TOPIC",
    "UNISWAP_V2_SWAP_TOPIC",
    "UNISWAP_V3_SWAP_TOPIC",
    "keccak_256",
    "keccak_256_hex",
    "to_checksum_address",
    "eip55_checksum",
    "hex_to_double",
    "hex_to_double_sql",
    "hex_to_long",
    "hex_to_long_sql",
    "TOKEN_STANDARDS",
    "token_standards_col",
    "token_standards_df",
    "token_standards_sql",
]
