package com.example.enums

enum class Enum(val code: Int) {
    FIRST(1),
    SECOND(2),
    THIRD(3);

    fun enumMethod(): String = name.lowercase()

    fun enumMethod2(other: Enum): Boolean {
        return code < other.code
    }
}
